package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import graft.util.Det._

/** Structured Streaming mirror of the batch event-time queries
  * (SURVEY.md §2.9, build step 6).
  *
  * Beam's batch/stream unification claim, realized the Spark way: the
  * SAME declarative transform runs over a bounded DataFrame and over a
  * stream — these builders take whichever DataFrame they're given.
  * The scalatest suite feeds them MemoryStream input (Beam TestStream
  * parity) and asserts equality with the batch result.
  *
  * Semantics notes (documented gaps, not emulated):
  *  - `withWatermark` + append mode ≈ Beam's AfterWatermark single final
  *    pane with allowed_lateness=0; data later than the watermark is
  *    dropped. Beam's early/late re-firing panes have no Structured
  *    Streaming equivalent; update output mode approximates
  *    ACCUMULATING panes (each micro-batch re-emits a window's refined
  *    aggregate — spec'd in StreamingSpec), discarding mode has none.
  *  - Watermarks advance per micro-batch, not per element.
  */
object Streaming {

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                event_type: String, value: Double)

  case class Doc(doc_id: Long, text: String)

  case class GDoc(doc_id: Long, lang: String, n_chars: Long)

  /** q41's quality-scoring map as a shared batch/stream builder: the
    * Tier-L cleaning operators are STATELESS per-row expressions, so
    * the identical plan runs over a bounded corpus and over a document
    * stream (no watermark, no state store — a streaming quality gate
    * costs exactly a batch one). StreamingSpec asserts stream ≡ batch. */
  def qualityScore(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("ws")).as("n_words"),
        size(array_distinct(col("ws"))).as("n_distinct"),
        size(filter(col("ws"), w => w.isInCollection(Seq("the", "a", "of")))).as("n_stop"))
      .withColumn("quality_bp",
        expr("CAST((CAST(n_distinct AS BIGINT) * (n_words - n_stop) * 10000L) " +
          "DIV (CAST(n_words AS BIGINT) * n_words) AS BIGINT)"))

  case class EvP(event_id: Long, user_id: java.lang.Long, value: Double, props: String)

  /** q105's data-quality assertions as a shared batch/stream builder:
    * each record gains an array naming every rule it breaks plus an
    * `ok` flag — a STATELESS row-local map, so dirty records can be
    * dead-lettered in flight (route on `ok`, q20's tagged-output
    * shape) instead of after the batch lands. Violation COUNTERS are
    * then one streaming aggregation over the exploded rule names
    * (update/complete mode) — StreamingSpec asserts both stream ≡
    * batch. */
  def validated(events: DataFrame): DataFrame = events
    .withColumn("violations", array_compact(array(
      when(col("value") <= 0, lit("value_nonpositive")),
      when(col("user_id").isNull, lit("user_id_null")),
      when(get_json_object(col("props"), "$.k").isNull, lit("props_malformed")))))
    .withColumn("ok", (size(col("violations")) === 0).cast("int"))

  /** Running violation counters over [[validated]] — the streaming
    * governance dashboard aggregate. */
  def violationCounts(events: DataFrame): DataFrame =
    validated(events)
      .select(explode(col("violations")).as("rule"))
      .groupBy(col("rule")).count()

  /** Stream-static broadcast enrichment — Beam's dict side input on an
    * unbounded PCollection (`ParDo(fn, AsDict(dim))`). The static dim
    * broadcasts into every micro-batch; stateless, no watermark, and
    * the same builder runs unchanged on a batch DataFrame (stream ≡
    * batch spec). Left join + default keeps unknown keys flowing —
    * dropping them silently is the classic side-input bug. At scale
    * the dim re-broadcasts per micro-batch, so it must stay
    * dimension-sized — exactly the Beam side-input contract. */
  def enriched(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(col("weight"), lit(0L)).as("weight"))

  /** q129's per-language quantile gate, apply side: the trained cut
    * table (a |langs|-row artifact from `TextQueries.langCuts`)
    * broadcasts onto a document batch OR stream — stateless row-local
    * compare, no watermark, no state store. This is the train-batch /
    * apply-stream split of every production quality gate: the batch
    * side recomputes cuts periodically (the histogram needs a bounded
    * corpus), the stream applies the latest artifact to documents in
    * flight. Stream ≡ batch by construction; spec'd. */
  def gated(docs: DataFrame, cuts: DataFrame): DataFrame =
    docs.join(broadcast(cuts), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("cut"),
        (col("n_chars") >= col("cut")).cast("int").as("kept"))

  /** q127's CDC changelog→snapshot apply as a shared batch/stream
    * builder: per key, ONE map-combined `max_by` fold on the
    * (ts, event_id) total order picks the last write; a terminal
    * 'error' state is a delete tombstone and drops the key. On a
    * stream this is a plain keyed aggregation (complete/update output)
    * — the state store holds exactly one (last-write, count) pair per
    * key, so the live materialized view costs O(|keys|) state, and
    * each micro-batch folds in incrementally; the identical plan runs
    * over a bounded changelog. The tombstone filter sits AFTER the
    * aggregate, so a key deleted in batch 1 reappears correctly if
    * batch 2 upserts it again. */
  def cdcSnapshot(events: DataFrame): DataFrame = {
    val ord = struct(col("tus"), col("event_id"))
    events
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_type"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("event_type"), col("cents"), col("tus")), ord).as("last"),
        count(lit(1)).as("n_changes"))
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"), col("last.event_type").as("state"),
        col("last.cents").as("cents"), col("last.tus").as("last_tus"),
        col("n_changes"))
  }

  /** Tumbling 1-day counts per event_type — q21's shape. Pass
    * `watermark=Some("1 day")` on a streaming input. */
  def tumblingCounts(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /** Beam's `Top.PerKey` over event-time windows on an UNBOUNDED input:
    * [[tumblingCounts]] (complete/update mode) maintains the
    * per-(window, type) counts as streaming state — that aggregation is
    * the scalable part, its state is |windows|·|types| rows regardless
    * of stream volume — and this finisher ranks WITHIN each window over
    * that metadata-sized table (per micro-batch via foreachBatch, or on
    * the final in-memory table). The identical finisher runs on the
    * batch counts, so stream ≡ batch by construction (spec'd). */
  def topKPerWindow(counts: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w_start_us"))
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Exactly-once-to-files, the foreachBatch sink discipline: each
    * micro-batch overwrites its OWN batch=<id> partition (dynamic
    * partition overwrite), so replaying a batch after a failure —
    * Structured Streaming's at-least-once delivery to foreachBatch —
    * rewrites the same rows instead of appending duplicates. Combined
    * with the checkpointed batch id this is the standard
    * effectively-once file sink; spec'd by replaying a batch and
    * asserting no duplication. */
  def idempotentBatchSink(dir: String)(df: DataFrame, batchId: Long): Unit =
    df.withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(dir)

  /** Sliding 2-day windows advancing 1 day — q22's shape (every event
    * lands in exactly two windows; the ×2 fan-out happens before the
    * map-side partial combine, identically in batch and stream). */
  def slidingCounts(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(window(col("ts"), "2 days", "1 day").as("w"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("w.start")).as("w_start_us"), col("n"), col("sum_value"))
  }

  /** Session windows per user (12h gap) — q23's FULL shape (count +
    * exact decimal value sum), so the stream≡batch parity spec can
    * hash-compare against the oracle-checked q23 result column for
    * column. */
  def sessionCounts(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(session_window(col("ts"), "12 hours").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("s_start_us"),
        col("n"), col("sum_value"))
  }

  /** Dynamic-gap session windows — q102's shape: the gap is a per-event
    * EXPRESSION (purchases hold the session open 24 h, everything else
    * 12 h). Identical builder for batch and stream: on a stream the
    * state store merges windows exactly as the batch plan does. */
  def dynSessionCounts(events: DataFrame, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(session_window(col("ts"),
        when(col("event_type") === "purchase", lit("24 hours"))
          .otherwise(lit("12 hours"))).as("w"),
      col("user_id"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("s_start_us"),
        col("n"), col("sum_value"))
  }

  case class UserCount(user_id: Long, n: Long)
  case class SessBuf(start: Long, end: Long, n: Long)
  case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long, n: Long)

  /** Beam event-time TIMER exemplar: hand-rolled session assembly with
    * GroupStateTimeout.EventTimeTimeout. Events accumulate per user; the
    * timeout timestamp is re-armed to (last event + gap); when the
    * watermark passes it, the timer fires (hasTimedOut) and the closed
    * session is emitted and its state removed — Beam's
    * state + event-time-timer DoFn, in Spark form. State per key is one
    * (start, end, n) triple, O(|users|) at any scale. */
  def sessionsWithTimer(events: Dataset[Ev], gapMs: Long,
                        watermark: String): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessBuf, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[SessBuf]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(uid, s.start, s.end, s.n))
          } else {
            val ts = it.map(_.ts.getTime).toSeq
            val prev = state.getOption
            val buf = SessBuf(
              math.min(prev.map(_.start).getOrElse(Long.MaxValue), ts.min),
              math.max(prev.map(_.end).getOrElse(Long.MinValue), ts.max),
              prev.map(_.n).getOrElse(0L) + ts.size)
            state.update(buf)
            state.setTimeoutTimestamp(buf.end + gapMs)
            Iterator.empty
          }
      }
  }

  /** Kafka unbounded-source config surface [BEAM io/kafka.py
    * ReadFromKafka]: the standard Structured Streaming connector
    * builder. This sandbox ships no spark-sql-kafka jar (zero egress),
    * so `.load()` here fails fast with DATA_SOURCE_NOT_FOUND — the spec
    * pins that failure mode; on a cluster with the connector on the
    * classpath the same builder yields the canonical
    * key/value/topic/partition/offset/timestamp stream.
    *
    * Round-7 attempt, executed and recorded (closes the carried item):
    * `"org.apache.spark" %% "spark-sql-kafka-0-10" % "4.1.2"` added to
    * build.sbt, `sbt update` run — coursier (offline mode) fails with
    * `ResolveException: Error downloading
    * org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 / Not found`
    * (cache contains only scalatest/scalacheck); `/opt/spark/jars` and
    * a filesystem-wide search ship neither spark-sql-kafka nor
    * kafka-clients. Hard environment limit, not a packaging choice;
    * the dependency line was reverted. */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession, bootstrapServers: String,
                  topic: String, startingOffsets: String = "earliest")
      : org.apache.spark.sql.streaming.DataStreamReader =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)

  /** Beam `Deduplicate` [BEAM apache_beam/transforms/deduplicate.py]:
    * drop repeats of a key, batch or stream with ONE declaration.
    *
    * On a stream, `withinWatermark` uses
    * `dropDuplicatesWithinWatermark`: dedup state for a key is dropped
    * once the watermark passes its event time — Beam's
    * Deduplicate.within_duration semantics, and the only formulation
    * whose state is bounded at 100 TB (plain dropDuplicates on a stream
    * keeps every key forever). On a batch frame both forms reduce to
    * plain dropDuplicates. */
  def deduplicate(events: DataFrame, keys: Seq[String],
                  withinWatermark: Option[(String, String)] = None): DataFrame =
    withinWatermark match {
      case Some((tsCol, horizon)) =>
        val wm = events.withWatermark(tsCol, horizon)
        if (events.isStreaming) wm.dropDuplicatesWithinWatermark(keys)
        else wm.dropDuplicates(keys)
      case None => events.dropDuplicates(keys)
    }

  /** Stateful ParDo exemplar (Beam ValueState): per-user running event
    * count via flatMapGroupsWithState. Emits the updated total for each
    * key touched in a micro-batch; state is a single Long per key, so at
    * 100 TB the store scales with |users|, not |events|. */
  def runningCounts(events: Dataset[Ev]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, UserCount](OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + it.size
          state.update(n)
          Iterator(UserCount(uid, n))
      }
  }

  /** [[runningCounts]] migrated to Spark 4's `transformWithState` — the
    * modern arbitrary-state API (SPARK-45939, SURVEY §2.9): explicit
    * named ValueState with optional TTL, timers decoupled from state,
    * and RocksDB-backed stores (set
    * `spark.sql.streaming.stateStore.providerClass` to the RocksDB
    * provider — the API requires it). Kept alongside the
    * flatMapGroupsWithState form; StreamingSpec asserts both produce
    * the same totals.
    *
    * `ttl` is the knob that keeps a 100 TB streaming job's state store
    * bounded without hand-written cleanup timers: under `TTLConfig(d)` a
    * key silent longer than `d` has its state evicted by the store
    * itself, so the footprint tracks ACTIVE keys, not ever-seen keys;
    * `TTLConfig.NONE` keeps every key. */
  class RunningCountProcessor(ttl: TTLConfig) extends StatefulProcessor[Long, Ev, UserCount] {
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong, ttl)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timers: TimerValues): Iterator[UserCount] = {
      val n = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(n)
      Iterator(UserCount(key, n))
    }
  }

  def runningCountsTws(events: Dataset[Ev]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningCountProcessor(TTLConfig.NONE),
        TimeMode.None(), OutputMode.Update(), implicitly[org.apache.spark.sql.Encoder[UserCount]])
  }

  /** [[runningCountsTws]] with state TTL. TTL is processing-time by API
    * contract (TimeMode.ProcessingTime required); an expired key
    * restarts its count from zero, which StreamingSpec asserts. */
  def runningCountsTtl(events: Dataset[Ev], ttl: java.time.Duration): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningCountProcessor(TTLConfig(ttl)),
        TimeMode.ProcessingTime(), OutputMode.Update(),
        implicitly[org.apache.spark.sql.Encoder[UserCount]])
  }

  // ---- multi-timer stateful processor (session monitor) -----------------

  /** One emitted signal of the session monitor: `kind` is
    * `idle_warning` (session still open), `inactivity` or
    * `duration_cap` (closed — the reason). */
  case class SessionSignal(user_id: Long, kind: String, n_events: Long, at_ms: Long)

  // State classes stay public: the generated projections of their
  // `Encoders.product` state encoders must reach their constructors.
  case class SessState(startMs: Long, lastMs: Long, n: Long)
  case class SessTimers(warnAt: Long, closeAt: Long, capAt: Long)

  /** The multi-timer exemplar for Spark 4's `transformWithState`
    * (deepens the Spark-4 stateful surface beyond RunningCountProcessor's
    * single ValueState): a per-user session monitor coordinating THREE
    * event-time timers per key —
    *
    *  1. idle warning at lastEvent + gap/2 (fires, session stays open);
    *  2. inactivity close at lastEvent + gap (both slide on every new
    *     event: the stale timers are DELETED and re-registered — the
    *     deleteTimer/registerTimer dance Beam's per-key timer map does
    *     implicitly);
    *  3. a hard duration cap at sessionStart + maxDur, registered once
    *     at session start, that closes a never-idle session.
    *
    * Expired timers are disambiguated against the expected timestamps
    * kept in a second ValueState (the timer payload pattern — Spark
    * timers carry only their timestamp). Closing clears state AND
    * deletes the surviving timers, so a closed key holds zero state —
    * at 100 TB the store scales with |open sessions|, and every firing
    * is driven by the event-time watermark, not wall clock.
    * StreamingSpec drives all three firings through MemoryStream. */
  class SessionMonitorProcessor(gapMs: Long, maxDurMs: Long)
      extends StatefulProcessor[Long, Ev, SessionSignal] {
    @transient private var sess: ValueState[SessState] = _
    @transient private var tmr: ValueState[SessTimers] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sess = getHandle.getValueState[SessState]("sess", Encoders.product[SessState], TTLConfig.NONE)
      tmr = getHandle.getValueState[SessTimers]("tmr", Encoders.product[SessTimers], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
                                 timers: TimerValues): Iterator[SessionSignal] = {
      var minMs = Long.MaxValue; var maxMs = Long.MinValue; var cnt = 0L
      rows.foreach { e =>
        val ms = e.ts.getTime
        if (ms < minMs) minMs = ms
        if (ms > maxMs) maxMs = ms
        cnt += 1
      }
      if (cnt == 0) return Iterator.empty
      val cur = if (sess.exists()) sess.get() else SessState(minMs, minMs, 0L)
      val next = SessState(math.min(cur.startMs, minMs), math.max(cur.lastMs, maxMs), cur.n + cnt)
      val fresh = !sess.exists()
      if (!fresh) {
        // slide the idle timers: drop the stale pair before re-arming.
        // Spark timers are identified by (key, timestamp) ALONE — a
        // sliding timer that lands on the cap's timestamp is the SAME
        // timer (caught by StreamingSpec: an idle warning at
        // lastEvent+gap/2 == sessionStart+maxDur silently deleted the
        // cap) — so never delete a timestamp the cap owns
        val old = tmr.get()
        if (old.warnAt != old.capAt) getHandle.deleteTimer(old.warnAt)
        if (old.closeAt != old.capAt) getHandle.deleteTimer(old.closeAt)
      }
      // The cap tracks the TRUE session start: a watermark-valid
      // out-of-order event that lowers startMs must move the armed
      // timer too, or the stored capAt and the registered timestamp
      // diverge and the firing is dropped as stale (cap silently lost).
      val oldCap = if (fresh) Long.MinValue else tmr.get().capAt
      val newCap = next.startMs + maxDurMs
      val nt = SessTimers(
        warnAt = next.lastMs + gapMs / 2,
        closeAt = next.lastMs + gapMs,
        capAt = if (fresh || newCap < oldCap) newCap else oldCap)
      getHandle.registerTimer(nt.warnAt)
      getHandle.registerTimer(nt.closeAt)
      if (fresh) getHandle.registerTimer(nt.capAt) // armed once per session
      else if (nt.capAt != oldCap) { // session start moved earlier: re-arm
        // same (key,ts)-identity hazard as the slide pair: never delete a
        // timestamp the just-registered slide timers now own
        if (oldCap != nt.warnAt && oldCap != nt.closeAt) getHandle.deleteTimer(oldCap)
        getHandle.registerTimer(nt.capAt)
      }
      tmr.update(nt)
      sess.update(next)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[SessionSignal] = {
      if (!sess.exists()) return Iterator.empty
      val st = sess.get(); val ts = tmr.get()
      val at = expired.getExpiryTimeInMs
      def closeWith(kind: String, surviving: Seq[Long]): Iterator[SessionSignal] = {
        surviving.foreach(getHandle.deleteTimer)
        sess.clear(); tmr.clear()
        Iterator.single(SessionSignal(key, kind, st.n, at))
      }
      if (at == ts.closeAt) closeWith("inactivity", Seq(ts.capAt))
      else if (at == ts.capAt) closeWith("duration_cap", Seq(ts.warnAt, ts.closeAt))
      else if (at == ts.warnAt) Iterator.single(SessionSignal(key, "idle_warning", st.n, at))
      else Iterator.empty // a stale timer raced its deletion; state says ignore
    }
  }

  /** Builder: event-time multi-timer session monitoring over a stream
    * of [[Ev]]. Watermark drives every firing; delay 0 keeps the spec
    * deterministic (MemoryStream batches advance it between adds). */
  def sessionMonitor(events: Dataset[Ev], gapMs: Long, maxDurMs: Long,
                     watermarkDelay: String = "0 seconds"): Dataset[SessionSignal] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(new SessionMonitorProcessor(gapMs, maxDurMs),
        TimeMode.EventTime(), OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[SessionSignal]])
  }

  // ---- triggered panes: Beam early/on-time/late firings -----------------

  /** One fired pane: Beam's `PaneInfo` essentials — `pane` is the
    * 0-based firing index for the (key, window), `timing` is
    * EARLY / ON_TIME / LATE. In accumulating mode `n` is the running
    * window total at firing time (Beam ACCUMULATING); in discarding
    * mode it is the delta since the previous pane (Beam DISCARDING). */
  case class PaneOut(user_id: Long, w_start_ms: Long, n: Long, pane: Int, timing: String)

  // public for its state encoder's generated projection (see SessState)
  case class PaneSt(n: Long, emitted: Long, pane: Int, onTimeFired: Boolean)

  /** Beam's `AfterWatermark.pastEndOfWindow().withEarlyFirings(...)
    * .withLateFirings(...)` + `allowed_lateness` + accumulation mode —
    * the trigger surface SURVEY §2.9 carried as a documented gap —
    * emulated on `transformWithState` with event-time timers:
    *
    *  - EARLY panes: one per micro-batch that brings new data before
    *    the on-time firing (the micro-batch is Spark's processing-time
    *    quantum, playing Beam's early-firing interval);
    *  - ON_TIME pane: an event-time timer at window end fires when the
    *    watermark passes it — emitted even if no batch arrived since
    *    the last early pane, exactly Beam's on-time pane;
    *  - LATE panes: one per micro-batch that brings data after the
    *    on-time firing; admission is bounded by the WATERMARK DELAY,
    *    which must be set to the allowed lateness (Spark drops
    *    below-watermark rows before any stateful operator, so the
    *    delayed Spark watermark plays Beam's "watermark + allowed
    *    lateness" admission bound);
    *  - timer arithmetic: with Spark-wm = maxEventTime − lateness, the
    *    on-time timer sits at wEnd − lateness (it fires exactly when
    *    maxEventTime — the emulated zero-lag Beam watermark — passes
    *    the window end, while rows in [Spark-wm, wEnd) stay admissible
    *    as Beam's late data), and the gc timer at wEnd fires when Beam
    *    wm passes wEnd + lateness — state scales with |open windows|,
    *    not |ever-seen windows|. A timer at wEnd itself would make
    *    late panes UNREACHABLE: by the time it fired, every row of the
    *    window would already be below the Spark watermark. Boundary:
    *    Spark's watermark floors at 0, so a window with
    *    end − lateness ≤ 0 (epoch-adjacent) fires its on-time pane on
    *    the first watermark update — real event-time domains sit far
    *    from epoch.
    *
    * StreamingSpec drives both accumulation modes through MemoryStream:
    * early→early→on-time→late with accumulating totals 2,3,3,4 and
    * discarding deltas 2,1,0,1 on the same input. */
  class TriggeredPaneProcessor(windowMs: Long, latenessMs: Long, accumulating: Boolean)
      extends StatefulProcessor[(Long, Long), Ev, PaneOut] {
    @transient private var st: ValueState[PaneSt] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[PaneSt]("pane", Encoders.product[PaneSt], TTLConfig.NONE)

    override def handleInputRows(key: (Long, Long), rows: Iterator[Ev],
                                 timers: TimerValues): Iterator[PaneOut] = {
      val c = rows.size.toLong
      if (c == 0) return Iterator.empty
      val wEnd = key._2 + windowMs
      val fresh = !st.exists()
      val cur = if (fresh) PaneSt(0L, 0L, 0, onTimeFired = false) else st.get()
      if (fresh) {
        getHandle.registerTimer(wEnd - latenessMs) // on-time firing
        // gc timer; with lateness 0 it would collide with the on-time
        // timestamp ((key, ts) is the timer identity), so the on-time
        // handler clears state itself in that case
        if (latenessMs > 0) getHandle.registerTimer(wEnd)
      }
      val n2 = cur.n + c
      val out = if (accumulating) n2 else n2 - cur.emitted
      st.update(PaneSt(n2, n2, cur.pane + 1, cur.onTimeFired))
      Iterator.single(PaneOut(key._1, key._2, out,
        cur.pane, if (cur.onTimeFired) "LATE" else "EARLY"))
    }

    override def handleExpiredTimer(key: (Long, Long), timers: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[PaneOut] = {
      if (!st.exists()) return Iterator.empty
      val wEnd = key._2 + windowMs
      val at = expired.getExpiryTimeInMs
      if (at == wEnd - latenessMs) {
        val cur = st.get()
        val out = if (accumulating) cur.n else cur.n - cur.emitted
        if (latenessMs == 0) st.clear() // doubles as the gc firing
        else st.update(PaneSt(cur.n, cur.n, cur.pane + 1, onTimeFired = true))
        Iterator.single(PaneOut(key._1, key._2, out, cur.pane, "ON_TIME"))
      } else { // wEnd: Beam wm passed wEnd + lateness — closed for good
        st.clear()
        Iterator.empty
      }
    }
  }

  /** Builder: tumbling-window counts with Beam trigger semantics over a
    * stream of [[Ev]]. The watermark delay is pinned to `latenessMs` —
    * see [[TriggeredPaneProcessor]] for why that IS the allowed-
    * lateness bound under Spark's row admission. */
  def triggeredPanes(events: Dataset[Ev], windowMs: Long, latenessMs: Long,
                     accumulating: Boolean): Dataset[PaneOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", s"$latenessMs milliseconds")
      .groupByKey(e => (e.user_id, Math.floorDiv(e.ts.getTime, windowMs) * windowMs))
      .transformWithState(new TriggeredPaneProcessor(windowMs, latenessMs, accumulating),
        TimeMode.EventTime(), OutputMode.Append(),
        implicitly[org.apache.spark.sql.Encoder[PaneOut]])
  }

  // ---- streaming LSH near-dup (Tier-L × streams) ------------------------

  /** Persisted LSH index over a bounded corpus — the static side of the
    * streaming near-dup probe, and the one owner of the MinHash band
    * layout: q33/q68/q78/q130's pair pipeline and q112's probe build on
    * it. Signatures: 3-shingles → minhash_sigs → two
    * 2-row bands; `okBands` drops degenerate buckets (band frequency >
    * cap) on the CORPUS side, where they live. At 100 TB this index is
    * the artifact an ingest pipeline maintains between drops — built
    * once per corpus version, probed by every arriving batch. */
  case class NearDupIndex(sigs: DataFrame, bands: DataFrame, okBands: DataFrame) {
    def persist(): NearDupIndex = { sigs.persist(); bands.persist(); okBands.persist(); this }
    def unpersist(): Unit = { sigs.unpersist(); bands.unpersist(); okBands.unpersist() }
  }

  private def sigTable(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"),
        array_distinct(call_function("shingles3",
          graft.functions.TextOps.words(col("text")))).as("shs"))
      .select(col("doc_id"), col("shs"),
        call_function("minhash_sigs", col("shs")).as("sg"))
      .select(col("doc_id"), col("shs"),
        md5(concat(element_at(col("sg"), 1).cast("string"),
          element_at(col("sg"), 2).cast("string"))).as("b0"),
        md5(concat(element_at(col("sg"), 3).cast("string"),
          element_at(col("sg"), 4).cast("string"))).as("b1"))
  }

  def buildNearDupIndex(corpus: DataFrame, bandCap: Int): NearDupIndex =
    rebandIndex(sigTable(corpus), bandCap)

  /** Rehydrate a [[NearDupIndex]] from a persisted signature table
    * (doc_id, shs, b0, b1) — the restart path of the ingest loop: the
    * signature artifact is the durable state, bands/okBands are derived
    * columns a reband recomputes for free. */
  def indexFromSigs(sigs: DataFrame, bandCap: Int): NearDupIndex =
    rebandIndex(sigs, bandCap)

  /** Asymmetric near-dup probe of one document batch against a
    * [[NearDupIndex]] — q112's per-drop core, shared verbatim by the
    * batch query and the streaming sink below. Returns one row per
    * probed doc: `(doc_id, n_matches, kept)`. Only the BATCH side
    * computes signatures here (|B| ≪ |A|); candidate generation is a
    * band-bucket join against the index and verification is one exact
    * array_intersect per surviving candidate pair. */
  def nearDupProbe(index: NearDupIndex, batch: DataFrame): DataFrame = {
    val sb = sigTable(batch)
    val bandsB = sb.select(col("doc_id").as("b"),
      explode(array(col("b0"), col("b1"))).as("band"))
    val cand = bandsB.join(index.okBands, Seq("band"))
      .join(index.bands, Seq("band"))
      .select(col("b"), col("a")).distinct()
    val matches = cand
      .join(index.sigs.select(col("doc_id").as("a"), col("shs").as("sha")), Seq("a"))
      .join(sb.select(col("doc_id").as("b"), col("shs").as("shb")), Seq("b"))
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("union_sz", size(col("sha")) + size(col("shb")) - col("common"))
      .filter(col("common") * 2 >= col("union_sz"))
      .groupBy(col("b")).agg(count(lit(1)).as("nm"))
    batch.select(col("doc_id"))
      .join(matches.withColumnRenamed("b", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("nm"), lit(0L)).as("n_matches"),
        (col("nm").isNull).cast("int").as("kept"))
  }

  /** Index maintenance: fold an accepted drop INTO the index so later
    * drops dedup against it too — the other half of the incremental-
    * ingest contract (probe, keep the fresh docs, append them). The
    * union is lazy and cheap (the drop is |B| ≪ |A|); callers persist
    * the returned index and unpersist the old one on their compaction
    * cadence — at 100 TB this is exactly the periodic rewrite of the
    * signature/band artifact, and `okBands` is recomputed over the
    * merged band table so a bucket that crosses the cap only via
    * appended docs still gets dropped. */
  def appendToIndex(index: NearDupIndex, accepted: DataFrame, bandCap: Int): NearDupIndex = {
    val sigs = index.sigs.unionByName(sigTable(accepted))
    rebandIndex(sigs, bandCap)
  }

  /** Delete from the near-dup gate: drop the retired documents'
    * signatures and re-derive bands — O(|index|) narrow-column work,
    * no text ever re-shingled. Removal can re-OPEN a capped band (its
    * count falls back under `bandCap`), which reband handles for free;
    * crucially, a deleted document no longer blocks re-ingest of its
    * own text (the takedown-then-relicense sequence the CDC loop spec
    * pins). */
  def removeFromIndex(index: NearDupIndex, delIds: DataFrame, bandCap: Int): NearDupIndex = {
    val sigs = index.sigs.join(
      broadcast(delIds.select(col("doc_id")).distinct()), Seq("doc_id"), "left_anti")
    rebandIndex(sigs, bandCap)
  }

  private def rebandIndex(sigs: DataFrame, bandCap: Int): NearDupIndex = {
    val bands = sigs.select(col("doc_id").as("a"),
      explode(array(col("b0"), col("b1"))).as("band"))
    val okBands = bands.groupBy(col("band"))
      .agg(count(lit(1)).as("bn")).filter(col("bn") <= bandCap)
      .select(col("band"))
    NearDupIndex(sigs, bands, okBands)
  }

  // ---- streaming vector-search probe (round-10 retrievers × streams) ----

  /** Two-stage ANN probe of one query batch against the STATIC binary
    * index + base vectors — the Hamming route q163 serves
    * ([[graft.functions.Retrieval.hammingRoute]]): arriving query
    * vectors compute their sign words in-batch, Hamming-rank the index
    * (xor+popcount over 8 bytes/vector), and the per-query shortlist
    * reranks by exact cosine against base vectors fetched by id.
    * Returns `(q_id, rn, vec_id, sim_q)`, top-k per
    * query. No cross-batch state: a query's answer depends only on the
    * static corpus, so `foreachBatch` runs the exact batch plan per
    * drop: the [[graft.plans.TwoStageRoute]] operator collects the
    * drop's query rows on the driver (no job for a local relation) and
    * runs two jobs, the index scan with per-task shortlist heaps and
    * the base scan scoring only the shortlisted ids — at 100 TB the
    * index/base are the persisted serving artifacts and the query
    * stream never re-reads the corpus.
    *
    * `excludeSelf` = true treats q_id as sharing the corpus id space
    * and drops the corpus vector whose vec_id equals the query's q_id
    * (self-query semantics, as in the q163 parity test). External query
    * streams whose ids are unrelated to corpus ids pass false so an
    * accidental id collision can't silently drop a candidate. The
    * parameter is REQUIRED (no default): the round-11 signature change
    * flipped the historical default, so every caller must now state its
    * id-space relationship explicitly rather than inherit one silently
    * (round-11 ADVICE). */
  def annProbe(index: DataFrame, base: DataFrame, queries: DataFrame,
               shortlist: Int, k: Int, excludeSelf: Boolean): DataFrame = {
    import graft.functions.{Retrieval, VectorOps}
    val qs = queries.select(col("q_id"), col("qv"),
      VectorOps.signWord(col("qv"), 0).as("qlo"),
      VectorOps.signWord(col("qv"), 32).as("qhi"))
    Retrieval.hammingRoute(index, qs, base, qs, shortlist, k, excludeSelf)
      .select(col("q_id"), col("rn"), col("vec_id"), col("sim_q"))
  }

  /** Streaming vector search: each arriving micro-batch of query
    * vectors probes the static index and lands its top-k answer —
    * the serving loop of a retrieval system expressed as a stream. */
  def annSearchStream(queries: DataFrame, index: DataFrame, base: DataFrame,
                      shortlist: Int, k: Int,
                      sink: DataFrame => Unit,
                      excludeSelf: Boolean): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink(annProbe(index, base, batch.toDF(), shortlist, k, excludeSelf))
      }
      .start()

  /** Streaming graph-ANN serving: each arriving micro-batch of query
    * vectors (q_id, qv) beam-searches the ON-DISK knngraph artifact and
    * lands its top-k — the graph twin of [[annSearchStream]] and the
    * serve side of the artifact lifecycle: every micro-batch reads the
    * newest manifest, and the resident delete-aware read
    * (`readKnnGraphIndex`) is read again only when a commit changed it,
    * so queries arriving after an `appendToKnnGraphIndex` find the new
    * vectors and queries arriving after a `deleteFromKnnGraphIndex`
    * never see the retired ones (spec-pinned across a mutation
    * sequence). Per batch the work is q171's `graphSearch` — one
    * in-task graph walk against the materialized artifact read and
    * `base` vectors, nothing shuffled but the top-k — and its top-k
    * through the shared bounded heap, so the rows equal q171's
    * (spec-pinned). The read materializes inside the retry scope, so
    * the plan the sink receives reads no artifact file. */
  def graphSearchStream(queries: DataFrame, idxPath: String, base: DataFrame,
                        k: Int, sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        def serveOnce(): DataFrame = {
          val (g, lists) = graft.queries.Round11Queries.readKnnGraphIndex(s, idxPath)
          val (frontier, _) = graft.queries.Round11Queries
            .graphSearch(g, lists, base, batch.toDF())
          graft.functions.Retrieval.heapTopK(frontier, -col("sim"), k)
            .select(col("q_id"), col("rn"), col("vec_id"), (-col("hk")).as("sim_q"))
        }
        // a commit can retire a part file or tombstone this batch's
        // plan pinned: re-plan (Artifacts.retryVanished)
        sink(Artifacts.retryVanished(attempts = 3)(serveOnce()))
      }
      .start()

  /** Streaming near-dup gate: every arriving micro-batch of documents
    * probes the static corpus index and lands with its match count and
    * keep/drop flag. `foreachBatch` is the honest Spark shape for this
    * operator — the probe aggregates only WITHIN a drop (candidates for
    * a doc all come from its own batch joined to the static index), so
    * no cross-batch state store is needed, and each batch runs the
    * exact batch plan (broadcast of B's bands when small, AQE, the
    * works) that `nearDupProbe` compiles to. Beam parity: windowed
    * batch join against a slowly-changing side input. At 100 TB the
    * index persists across drops; the stream side never re-reads the
    * corpus. */
  def nearDupStream(docs: DataFrame, index: NearDupIndex,
                    sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        sink(nearDupProbe(index, batch.toDF()))
      }
      .start()

  // ---- the composed ingest loop (round 13) ------------------------------

  /** An arriving corpus drop: a document and its embedding in ONE id
    * space — the shape a real training-data ingest sees (text lands
    * together with the vector its embedder produced). `op` makes the
    * stream a CDC feed: "add" (the default — existing producers are
    * untouched) ingests through the gate, "del" retires the id from
    * EVERY artifact (takedown); a "del" row's text/vec are ignored. */
  case class IngestDoc(doc_id: Long, text: String, label: Int, vec: Seq[Double],
                       op: String = "add")

  /** The serving artifacts one ingest loop owns and mutates batch to
    * batch: the MinHash band index (the near-dup gate), the on-disk
    * annidx3 layout (vector serving), the kNN graph (semantic dedup /
    * graph-descent serving), and the grown vector corpus the graph
    * descends against. `cents`/`cb` are the FROZEN IVFPQ model
    * artifacts every append must encode with (the appendToAnnIndex
    * contract). On a cluster each of these is a persisted table the
    * micro-batch transactionally replaces; here the in-memory ones are
    * lineage-truncated DataFrames and the index path is real parquet. */
  final class IngestState(
      var index: NearDupIndex,
      val annIdxPath: String,
      var graph: DataFrame,
      var corpus: DataFrame,
      val cents: IndexedSeq[(Long, IndexedSeq[Double])],
      val cb: IndexedSeq[IndexedSeq[Double]],
      // optional HNSW upper-layer state (lvl, src, nb, sim) — a loop
      // that serves hierarchically ([[graft.queries.Round11Queries
      // .hnswSearch]]) carries it and survivors fold in via
      // appendToHnsw; a loop that serves flat (q171) leaves it None
      var layers: Option[DataFrame] = None,
      // optional semantic-cluster state: the q170 decision table
      // BUNDLED with its frozen p90 threshold — one value, so a caller
      // cannot supply the map without the cut it was built at (a
      // separate defaulted threshold silently merged every non-negative
      // mutual pair at thr=0). Survivors fold in via appendToClusters
      // (monotone merges), deletes via deleteFromClusters; None = the
      // loop doesn't maintain clusters
      var clusters: Option[(DataFrame, Long)] = None)

  /** The three maintenance loops COMPOSED into one streaming ingest —
    * the end-to-end exemplar their isolated specs promise: each
    * arriving drop is (1) gated against the band index
    * ([[nearDupProbe]] — O(|drop|) bucket probe, never a corpus
    * rescan), and only the survivors (2) fold into the band index
    * ([[appendToIndex]]), (3) encode into the annidx3 layout with the
    * frozen model ([[graft.queries.Round10Queries.appendToAnnIndex]] —
    * append-only part files), and (4) fold into the kNN graph
    * ([[graft.queries.Round11Queries.appendToKnnGraph]] — frozen-plane
    * bucket seed + one descent round; when the state carries HNSW
    * layers, [[graft.queries.Round11Queries.appendToHnsw]] folds the
    * same survivors into their promoted layers in the same pass).
    * Every `compactEvery`-th batch
    * (5) makes the annidx3 deletes physical
    * ([[graft.queries.Round10Queries.purgeAnnIndex]]) and folds the
    * accumulated small-file tail back to ~`compactTarget` bytes
    * ([[graft.queries.Round10Queries.compactAnnIndex]]), neither of
    * which can change any probe result. Every annidx3 mutation is one
    * [[Artifacts.commit]], so a crash mid-rewrite is repaired by the
    * next batch's first mutation, and the batch's delete and append
    * commit under [[Artifacts.Key]]s scoped by the streaming query's id
    * (kept across a restart from its checkpoint) and ordered by the
    * micro-batch id: a replayed batch changes the annidx3 layout once,
    * and a second query over the same layout starts its own scope.
    *
    * One pass per drop, shared ids throughout: a duplicate rejected by
    * the gate reaches NO downstream artifact, and a survivor reaches
    * ALL of them — the invariant StreamingSpec pins end to end. The
    * batch is eagerly checkpointed first: every artifact the loop
    * mutates outlives the micro-batch, so none of them may hold lineage
    * into the batch source.
    *
    * CHECKPOINT LIFECYCLE (round-16 ADVICE, deliberately documented
    * rather than changed): the per-batch state checkpoints (graph,
    * corpus, layers, clusters) are LAZY, so batch N's superseded blocks
    * are released by the ContextCleaner once batch N+1's state
    * materializes and the old plans are GC'd — measured on the full
    * 184x2-query board, lingering checkpoint storage stays under ~25 MB
    * (OPTIMIZATION_r17.md probe), so nothing pins. An explicit
    * unpersist of the superseded frames would require EAGER state
    * materialization first (unpersisting a truncated-but-unmaterialized
    * lazy checkpoint loses the only copy), i.e. ~4 extra jobs per
    * micro-batch — the wrong trade at this batch cadence. On a real
    * cluster the states are also unrecoverable on executor loss
    * (localCheckpoint's contract); a production deployment with
    * fault-tolerance needs would swap these for reliable checkpoints or
    * per-batch artifact writes (the annidx path already IS one). */
  def ingestLoop(drops: DataFrame, st: IngestState, bandCap: Int,
                 kInt: Int, undCap: Int,
                 compactEvery: Int, compactTarget: Long,
                 onBatch: (Long, DataFrame) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    drops.writeStream
      .outputMode("append")
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val raw = b.toDF().localCheckpoint(true)
        val query = b.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
        def key(op: String) = Some(Artifacts.Key(s"$query/$op", id))
        // CDC: deletes land FIRST, so a batch that retires an id and
        // re-adds its text sees the freed gate — and every artifact
        // retires the id the same way its append grew it
        val dels = (if (raw.columns.contains("op")) raw.filter(col("op") === "del")
                    else raw.limit(0))
          .select(col("doc_id")).localCheckpoint(true)
        if (!dels.isEmpty) {
          st.index = removeFromIndex(st.index, dels, bandCap)
          graft.queries.Round10Queries.deleteFromAnnIndex(
            dels.select(col("doc_id").as("vec_id")), st.annIdxPath, key = key("del"))
          val delV = dels.select(col("doc_id").as("vec_id"))
          st.graph = graft.queries.Round11Queries
            .deleteFromKnnGraph(st.graph, st.corpus, delV, kInt, undCap)
            .select(col("src"), col("nb"), col("sim")).localCheckpoint(false)
          st.layers = st.layers.map(ls => graft.queries.Round11Queries
            .deleteFromHnsw(ls, st.corpus, delV).localCheckpoint(false))
          st.clusters = st.clusters.map { case (c, thr) =>
            (graft.queries.Round11Queries
              .deleteFromClusters(c, delV).localCheckpoint(false), thr) }
          st.corpus = st.corpus
            .join(org.apache.spark.sql.functions.broadcast(delV), Seq("vec_id"), "left_anti")
            .localCheckpoint(false)
        }
        val batch = (if (raw.columns.contains("op")) raw.filter(col("op") =!= "del")
                     else raw).localCheckpoint(true)
        val verdicts = nearDupProbe(st.index, batch.select(col("doc_id"), col("text")))
          .localCheckpoint(true)
        val kept = batch.join(
            verdicts.filter(col("kept") === 1).select(col("doc_id")), Seq("doc_id"))
          .localCheckpoint(true)
        if (!kept.isEmpty) {
          st.index = appendToIndex(st.index, kept.select(col("doc_id"), col("text")), bandCap)
          val newVecs = kept.select(col("doc_id").as("vec_id"), col("label"),
            col("vec").as("v"))
          graft.queries.Round10Queries.appendToAnnIndex(
            newVecs, st.annIdxPath, st.cents, st.cb, key = key("add"))
          val bNew = newVecs.select(col("vec_id"), col("v"))
          st.graph = graft.queries.Round11Queries
            .appendToKnnGraph(st.graph, st.corpus, bNew, kInt, undCap)
            .select(col("src"), col("nb"), col("sim")).localCheckpoint(false)
          // the hierarchy folds the SAME survivors in before the corpus
          // grows (appendToHnsw's bOld/drop contract matches the L0
          // append above), so flat and hierarchical serving stay in step
          st.layers = st.layers.map(ls => graft.queries.Round11Queries
            .appendToHnsw(ls, st.corpus, bNew).localCheckpoint(false))
          st.corpus = st.corpus.unionByName(bNew).localCheckpoint(false)
          // clusters fold in LAST, over the already-grown graph (the
          // mutual pass reads the refreshed edge lists) with the frozen
          // build-time threshold — monotone merges only
          st.clusters = st.clusters.map { case (c, thr) =>
            (graft.queries.Round11Queries
              .appendToClusters(c, st.graph, bNew.select(col("vec_id")), thr)
              .localCheckpoint(false), thr) }
        }
        if (compactEvery > 0 && (id + 1) % compactEvery == 0) {
          // physical purge first (rewrites retire tombstoned rows), then
          // fold the small-file tail — the OPTIMIZE pair of a lakehouse
          graft.queries.Round10Queries.purgeAnnIndex(
            batch.sparkSession, st.annIdxPath)
          graft.queries.Round10Queries.compactAnnIndex(
            batch.sparkSession, st.annIdxPath, compactTarget)
        }
        onBatch(id, verdicts)
      }
      .start()
}
