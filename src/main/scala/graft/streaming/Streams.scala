package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Structured Streaming operators (SURVEY.md §2.7): watermarked
  * tumbling-window aggregation and stateful gap sessionization. Batch
  * twins `q16_events_window` / `q17_sessionize` are oracle-verified;
  * these streaming versions are exercised in StreamingSpec via
  * MemoryStream with event-time control.
  *
  * Scale: state is partitioned by the grouping key (window key /
  * user), watermarks bound state size; both run identically on a
  * 1000-executor cluster with a real source (Kafka/files) swapped in.
  */
object Streams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, total_value: Double)
  final case class SessState(start: Long, last: Long, n: Long, total: Double)

  /** Tumbling 1-hour windowed counts with a 2-hour watermark —
    * streaming twin of q16. Late events beyond the watermark drop out;
    * everything else matches the batch date_trunc aggregation. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      // decimal accumulate, double at the end — same merge-order-free
      // money math as the batch twin (q16's dsum2), so streaming and
      // batch results agree bit-for-bit regardless of partitioning
      .agg(count(lit(1)).as("n"),
        graft.Portable.decSum2(col("value")).as("total_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("total_value"))

  /** Streaming windowed quantiles via the t-digest (r9) — the
    * latency/SLO percentile monitor: per (1-hour window, type) the
    * value column folds into ONE mergeable `graft_tdigest` summary
    * (KB per open window — the bounded-state contract; a windowed
    * `percentile` would buffer every raw value) and the closed window
    * emits p50/p95/p99 read-offs. Same watermark/append discipline as
    * [[windowedCounts]]; the digest aggregate is the BATCH-gated
    * `approx_tdigest_quantiles` machinery unchanged, so stream/batch
    * estimates share one implementation (envelope-vs-exact parity
    * pinned in `StreamingSpec`). */
  def quantileStream(events: DataFrame): DataFrame = {
    graft.functions.Natives.ensure(events.sparkSession)
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), expr("graft_tdigest(value, 100)").as("dig"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"),
        expr("graft_tdigest_quantile(dig, 0.5)").as("p50"),
        expr("graft_tdigest_quantile(dig, 0.95)").as("p95"),
        expr("graft_tdigest_quantile(dig, 0.99)").as("p99"))
  }

  /** Stateful 30-minute-gap sessionization via flatMapGroupsWithState
    * — streaming twin of q17. Emits a session when the gap timeout
    * expires. State per user is one open session: O(users) state. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[Event], state: GroupState[SessState]) =>
          val gapMs = gapMinutes * 60000L
          var closed = List.empty[SessionOut]
          if (state.hasTimedOut) {
            val s = state.get
            closed ::= SessionOut(user, new java.sql.Timestamp(s.start), s.n, s.total)
            state.remove()
            closed.iterator
          } else {
            var cur = state.getOption
            it.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessState(s.start, math.max(s.last, t), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= SessionOut(user, new java.sql.Timestamp(s.start), s.n, s.total)
                  cur = Some(SessState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // a late event (inside the 2h watermark delay) can extend a
              // session whose last + gap is already at/behind the current
              // watermark; Spark rejects a timeout <= watermark with an
              // IllegalArgumentException and fails the whole query — clamp
              // to watermark + 1 so the session closes on the next trigger
              state.setTimeoutTimestamp(
                math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.reverseIterator
          }
      }
  }

  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double, last_seen: java.sql.Timestamp)

  /** Running per-user totals via `mapGroupsWithState` (the 1:1 state
    * operator; use flatMapGroupsWithState when a group can emit 0..n
    * rows like [[sessionize]]). Update-mode output: every microbatch
    * re-emits the updated totals row per active user. State is one
    * fixed-size row per user — O(users), watermark-free. */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Event], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(user, 0L, 0.0, new java.sql.Timestamp(0)))
          val batch = it.toSeq
          // last_seen is monotone: a late-arriving microbatch of old
          // events must not regress it below the stored high-water mark
          val updated = UserTotals(user,
            prev.n_events + batch.size,
            prev.total_value + batch.map(_.value).sum,
            (prev.last_seen +: batch.map(_.ts)).maxBy(_.getTime))
          state.update(updated)
          updated
      }
  }

  final case class EwmaOut(user_id: Long, n_events: Long, ewma: Double)
  final case class EwmaState(ewma: Double, n: Long, lastTs: Long, lastId: Long)

  /** Running per-user EWMA (α = 1/2) via `mapGroupsWithState` — the
    * incremental twin of `q53_ewma`: state is the single decayed value
    * (the recursion ewma' = x/2 + ewma/2 needs no history), each
    * microbatch folds its events in (ts, event_id) order, update mode
    * re-emits the user's current feature row. Within any 16-event
    * horizon this equals the batch closed form to 2^-16 of the value
    * scale — the spec checks the recursion exactly and the q53
    * agreement numerically. Out-of-order events *across* microbatches
    * are folded in arrival order (same staleness contract as the other
    * update-mode planes here); within a batch the sort makes order
    * canonical. O(users) fixed-size state, no history buffer. */
  def ewmaStream(events: Dataset[Event]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[EwmaState, EwmaOut](GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Event], state: GroupState[EwmaState]) =>
          var s = state.getOption.getOrElse(EwmaState(0.0, 0L, Long.MinValue, Long.MinValue))
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            s = if (s.n == 0L) EwmaState(e.value, 1L, e.ts.getTime, e.event_id)
            else EwmaState(e.value / 2.0 + s.ewma / 2.0, s.n + 1, e.ts.getTime, e.event_id)
          }
          state.update(s)
          EwmaOut(user, s.n, s.ewma)
      }
  }

  final case class MgOut(shard: Int, item: String, cnt: Long)
  final case class MgState(counts: Map[String, Long])

  /** Streaming heavy hitters via per-shard Misra–Gries summaries —
    * the BOUNDED-STATE twin of the batch `approx_heavy_hitters` CMS
    * gate: state per shard is at most `k` (item, count) pairs
    * regardless of stream length or item cardinality (a groupBy count
    * would grow state with distinct items — the thing a 100 TB stream
    * cannot do). Classic Misra–Gries (1982) update: increment a
    * tracked item, admit while under capacity, otherwise decrement
    * ALL counters and drop zeros. Guarantee: any item with true
    * shard-frequency > N_shard/(k+1) is guaranteed tracked, and every
    * reported count underestimates the true count by ≤ N_shard/(k+1)
    * (spec-pinned on a planted skewed stream). Sharding by user hash
    * keeps update parallelism; shard summaries merge downstream by
    * count addition (the standard mergeable-summary property).
    * Update-mode output re-emits each touched shard's summary per
    * microbatch. */
  def heavyHittersStream(events: Dataset[Event], k: Int = 8,
      shards: Int = 16): Dataset[MgOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id % shards).toInt)
      .flatMapGroupsWithState[MgState, MgOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (shard: Int, it: Iterator[Event], state: GroupState[MgState]) =>
          var m = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
          it.foreach { e =>
            val key = e.event_type
            if (m.contains(key)) m = m.updated(key, m(key) + 1L)
            else if (m.size < k) m = m.updated(key, 1L)
            else m = m.view.mapValues(_ - 1L).filter(_._2 > 0L).toMap
          }
          state.update(MgState(m))
          m.toSeq.sortBy { case (i, c) => (-c, i) }
            .map { case (i, c) => MgOut(shard, i, c) }.iterator
      }
  }

  final case class CusumOut(event_type: String, batch_n: Long, g: Long, alarm: Boolean)
  final case class CusumState(mu0: Long, g: Long)

  /** Streaming level-shift monitor — Page's CUSUM test (Page 1954),
    * the ONLINE twin of the retrospective `q80_cusum_changepoint`:
    * per event type, each micro-batch's count x is one observation;
    * state is two longs (reference level μ₀ = the first batch's
    * count, and the one-sided cumulative excess
    * g ← max(0, g + x − μ₀ − μ₀/4)); the alarm fires when g > μ₀ —
    * i.e. sustained volume beyond 1.25× the reference has accumulated
    * a full reference-batch worth of excess. All integer arithmetic
    * (no float state to drift across restarts), O(1) state per type —
    * the bounded-state contract every plane in this file keeps.
    * Update-mode output: one (type, x, g, alarm) row per type per
    * batch. In production μ₀ comes from a warmup window or config;
    * first-batch self-reference keeps the plane self-contained. */
  def cusumStream(events: Dataset[Event]): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (tpe: String, it: Iterator[Event], state: GroupState[CusumState]) =>
          val x = it.size.toLong
          state.getOption match {
            case None =>
              state.update(CusumState(x, 0L))
              Iterator.single(CusumOut(tpe, x, 0L, alarm = false))
            case Some(CusumState(mu0, g0)) =>
              val g = math.max(0L, g0 + x - mu0 - mu0 / 4)
              state.update(CusumState(mu0, g))
              Iterator.single(CusumOut(tpe, x, g, alarm = g > mu0))
          }
      }
  }

  final case class TransitionOut(user_id: Long, cur: String, nxt: String)
  final case class LastEvt(ts: Long, id: Long, tpe: String)

  /** Streaming Markov transitions — the incremental twin of
    * `q56_transition_matrix`: per-user state is the LAST event (one
    * fixed-size row, O(users), no history buffer); each microbatch
    * sorts its group's events in (ts, event_id) order and emits one
    * (cur → nxt) pair per consecutive step, including the pair that
    * straddles the batch boundary (state carries the previous batch's
    * tail). Append-mode output: downstream aggregates counts/
    * probabilities exactly like the batch twin's cell aggregate.
    * Cross-batch out-of-order arrival has the same staleness contract
    * as the other update planes here; time-ordered ingestion
    * converges to the batch answer exactly (spec-pinned). */
  def transitionStream(events: Dataset[Event]): Dataset[TransitionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvt, TransitionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Event], state: GroupState[LastEvt]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var prev = state.getOption
          val out = Seq.newBuilder[TransitionOut]
          sorted.foreach { e =>
            prev.foreach(p => out += TransitionOut(user, p.tpe, e.event_type))
            prev = Some(LastEvt(e.ts.getTime, e.event_id, e.event_type))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  final case class FirstTouch(user_id: Long, first_ts: java.sql.Timestamp)

  /** Streaming first-touch plane — the incremental twin of
    * `q63_cumulative_reach`: each user's FIRST event emits exactly one
    * (user, first_ts) row, all later events are swallowed by the
    * one-bit state; a downstream day-grain count of the emissions IS
    * the reach curve's increments. O(users) fixed-size state, append
    * mode; with time-ordered ingestion across batches the emitted
    * first_ts equals the batch min (in-batch disorder is sorted out
    * by the group iterator — spec-pinned). */
  def firstTouchStream(events: Dataset[Event]): Dataset[FirstTouch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, FirstTouch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Event], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val first = it.minBy(e => (e.ts.getTime, e.event_id))
            state.update(1L)
            Iterator.single(FirstTouch(user, first.ts))
          }
      }
  }

  final case class SpanState(firstWk: Long, lastWk: Long)
  final case class SpanOut(user_id: Long, first_week_day: Long,
    last_week_day: Long, life_weeks: Long)

  /** Streaming activity-span plane — the incremental feed for
    * `q84_survival_retention`'s censoring logic (r9): per user the
    * state is the (first, last) activity WEEK — two longs, the
    * firstTouchStream discipline extended to a span — and each
    * microbatch emits the user's updated span (update mode, one row
    * per touched user per batch). Weeks are Monday-truncated
    * epoch-day starts computed in local time — the same day
    * `date_trunc('week', ts)` yields in the batch engine. The KM fold
    * itself (lifetimes histogram, reverse-prefix at-risk counts,
    * censoring against the CORPUS max week) is weeks-scale downstream
    * algebra over the LATEST row per user — censoring needs the
    * global max week, which only the reader of the full state can
    * know, exactly like the batch gate derives it from the corpus;
    * `StreamingSpec` replays events and pins the folded KM curve
    * EQUAL to [[graft.operators.Insights2.survivalRetention]] on the
    * same rows. O(users) fixed-size state — the bounded-state
    * contract every plane in this file keeps. */
  def survivalSpanStream(events: Dataset[Event]): Dataset[SpanOut] = {
    import events.sparkSession.implicits._
    def weekStart(ts: java.sql.Timestamp): Long = {
      val d = ts.toLocalDateTime.toLocalDate.toEpochDay
      d - java.lang.Math.floorMod(d - 4L, 7L) // 1970-01-05 (epoch day 4) is a Monday
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SpanState, SpanOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Event], state: GroupState[SpanState]) =>
          var fw = Long.MaxValue
          var lw = Long.MinValue
          it.foreach { e =>
            val w = weekStart(e.ts)
            if (w < fw) fw = w
            if (w > lw) lw = w
          }
          val s0 = state.getOption
          val merged = SpanState(
            math.min(fw, s0.map(_.firstWk).getOrElse(Long.MaxValue)),
            math.max(lw, s0.map(_.lastWk).getOrElse(Long.MinValue)))
          state.update(merged)
          Iterator.single(SpanOut(user, merged.firstWk, merged.lastWk,
            (merged.lastWk - merged.firstWk) / 7L))
      }
  }

  /** Streaming drift plane — the incremental twin of `q60_psi_drift`:
    * incoming events are bin-assigned against a STATIC per-type
    * reference range ([[graft.operators.Analytics.psiReferenceRange]],
    * broadcast stream–static join, map-side) using the IDENTICAL
    * clamped bin expression the batch gate runs
    * ([[graft.operators.Analytics.PsiBinExpr]]), then counted per
    * watermarked 1-hour window × (type, bin) — the windowed cells a
    * monitor computes PSI from (per-window algebra is |types|×10
    * rows, done downstream/foreachBatch exactly like the batch
    * smoothing). State is bounded by the watermark; the reference
    * never re-shuffles. */
  /** Streaming data-quality monitor (r9) — the incremental twin of
    * the batch `q89_dq_audit` check classes, on the event firehose:
    * per closed 1-hour window one long-format row per check
    * (completeness: NULL value/user, domain: event_type outside the
    * allowed set, range: negative value) with the exact violation
    * count, window total, and pass verdict. The whole monitor is ONE
    * windowed conditional-count aggregate (map-combinable, bounded
    * state: a handful of BIGINTs per open window) unpivoted after the
    * window closes — the shape that holds at any firehose rate. Same
    * watermark/append discipline as [[windowedCounts]]. */
  def dqStream(events: DataFrame,
      allowedTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "error")): DataFrame = {
    val inList = allowedTypes.map(t => s"'$t'").mkString(", ")
    def cnt(cond: String) = sum(expr(s"CASE WHEN $cond THEN 1 ELSE 0 END")).cast("long")
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).cast("long").as("total"),
        cnt("value IS NULL").as("null_value"),
        cnt("user_id IS NULL").as("null_user"),
        cnt(s"event_type NOT IN ($inList) OR event_type IS NULL").as("bad_type"),
        cnt("value < 0").as("neg_value"))
      .select(col("w.start").as("window_start"), expr(
        """stack(4,
          'completeness', 'value',      null_value, total,
          'completeness', 'user_id',    null_user,  total,
          'domain',       'event_type', bad_type,   total,
          'range',        'value',      neg_value,  total)
          AS (check_name, col_name, metric, total)"""))
      .withColumn("ok", col("metric") === 0L)
  }

  /** Streaming model-quality monitor (r11) — the incremental twin of
    * the batch `ml_threshold_sweep` readout at ONE published
    * operating threshold: a scoring service logs (ts, z margin,
    * y outcome) as labels arrive, and the monitor a pipeline pages on
    * is per-window confusion counts + precision/recall/accuracy —
    * quality DEGRADATION shows up here hours before a retrain gate
    * runs. Threshold compares the exp-FREE margin z (the
    * ml_threshold_sweep discipline — thresholding on σ(z) would be
    * the same decision boundary with a libm exp between a replayed
    * batch and the stream). Per closed 1-hour window: exact BIGINT
    * tp/fp/fn/tn and the pure-integer 6-dp ratios; precision/recall
    * are NULL (not 0) when a window has no predicted/actual
    * positives — a no-traffic window must not read as a broken
    * model.
    *
    * Plane shape: ONE windowed conditional-count aggregate —
    * map-combinable, a handful of BIGINTs per open window at any
    * firehose rate — with stateless ratio math on window close. Same
    * watermark/append discipline as [[dqStream]]. */
  def metricStream(scored: DataFrame, threshold: Double = 0.0,
      tsCol: String = "ts", watermarkDelay: String = "2 hours"): DataFrame = {
    def cnt(cond: String) = sum(expr(s"CASE WHEN $cond THEN 1 ELSE 0 END")).cast("long")
    val t = s"CAST($threshold AS DOUBLE)"
    scored
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), "1 hour").as("w"))
      .agg(count(lit(1)).cast("long").as("total"),
        cnt(s"z > $t AND y > 0.5").as("tp"),
        cnt(s"z > $t AND y < 0.5").as("fp"),
        cnt(s"NOT (z > $t) AND y > 0.5").as("fn"),
        cnt(s"NOT (z > $t) AND y < 0.5").as("tn"))
      .select(col("w.start").as("window_start"),
        col("total"), col("tp"), col("fp"), col("fn"), col("tn"))
      .withColumn("precision",
        expr(s"CASE WHEN tp + fp > 0 THEN ${graft.Portable.round6RatioSpark("tp", "tp + fp")} END"))
      .withColumn("recall",
        expr(s"CASE WHEN tp + fn > 0 THEN ${graft.Portable.round6RatioSpark("tp", "tp + fn")} END"))
      .withColumn("accuracy",
        expr(graft.Portable.round6RatioSpark("tp + tn", "total")))
  }

  /** Streaming schema-drift monitor (r11) — the incremental twin of
    * the batch `pipeline_schema_drift`: ingest streams carry
    * semi-structured payloads (JSON), and the drift a pipeline must
    * catch BEFORE a batch migration runs is key-level — a feed
    * starting to send a new column, dropping one, or sending it only
    * sometimes. Per closed 1-hour window, one q89-style check row per
    * column: `status` ∈ known (registered and present) / added
    * (unregistered key observed) / missing (registered key absent
    * from EVERY row), with `n_present` (rows carrying the key) vs
    * `n_rows` (rows that voted on it) so a partially-absent
    * registered key (`n_present < n_rows`, the backfill signal)
    * fails `ok` without being "missing".
    *
    * Plane shape: each row emits (key, 1) per observed key plus
    * (key, 0) per registered key it LACKS (a malformed/NULL payload
    * emits all registered keys at 0 — it is missing data, not a
    * dropped row), so missing-key detection needs NO second stateful
    * operator: the whole monitor is ONE windowed (window, key)
    * count/sum aggregate — map-combinable, state bounded by
    * |keys ∪ ref| per open window — with a stateless CASE verdict
    * after the window closes. Same watermark/append discipline as
    * [[dqStream]]; the registered set is a broadcast literal (it IS
    * the schema registry's published contract, domain-grain). */
  def schemaDriftStream(docs: DataFrame, refCols: Seq[String],
      tsCol: String = "ts", payloadCol: String = "payload",
      watermarkDelay: String = "2 hours"): DataFrame = {
    val refArr = array(refCols.map(lit(_)): _*)
    val keys = coalesce(json_object_keys(col(payloadCol)), array())
    docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), explode(concat(
        transform(keys, k => struct(k.as("key"), lit(1L).as("present"))),
        transform(array_except(refArr, keys),
          k => struct(k.as("key"), lit(0L).as("present"))))).as("kp"))
      .withColumn("w", window(col(tsCol), "1 hour"))
      // the window struct carries the event-time tag from here on; ts
      // must go (two tagged columns in one stream is an analyzer error)
      .select(col("w"), col("kp.key").as("col_name"), col("kp.present").as("present"))
      .groupBy(col("w"), col("col_name"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("present")).cast("long").as("n_present"))
      .select(col("w.start").as("window_start"), col("col_name"),
        when(col("n_present") === 0L, "missing")
          .when(col("col_name").isin(refCols: _*), "known")
          .otherwise("added").as("status"),
        col("n_rows"), col("n_present"))
      .withColumn("ok", col("status") === "known" && col("n_present") === col("n_rows"))
  }

  /** Streaming PSI score-drift monitor (r11 cont.) — the
    * DISTRIBUTION-level model-quality plane next to [[metricStream]]'s
    * label-based precision/recall: labels arrive late or never in
    * production, but the SCORE distribution is observable immediately,
    * and a shifted score distribution is the earliest drift signal
    * (the q60_psi_drift readout made incremental). Per closed 1-hour
    * window: scores bin against the published z-space decile edges
    * (the SAME train-time logit edges the calibration tier reads —
    * shared literals), bin shares compare to the train-time reference
    * shares via PSI = Σ (aᵢ − eᵢ)·ln(aᵢ/eᵢ), verdict at the standard
    * industry thresholds (< 0.1 stable / < 0.25 moderate / else
    * shifted).
    *
    * Plane shape: streaming forbids chained aggregations in append
    * mode, and PSI needs the window TOTAL next to each bin count — so
    * all 10 bins ride ONE windowed aggregate as conditional-sum
    * COLUMNS (the `ml_bootstrap_ci` 32-column discipline), state = one
    * 11-column row per open window, map-combinable; the PSI fold is a
    * stateless expression over the closed row. Zero observed shares
    * clamp to 1e-6 (the standard PSI epsilon — ln(0) otherwise;
    * reference shares are train-time constants the caller publishes
    * as nonzero). */
  def psiStream(scored: DataFrame, refShares: Seq[Double] = Seq.fill(10)(0.1),
      tsCol: String = "ts", scoreCol: String = "z",
      watermarkDelay: String = "2 hours"): DataFrame = {
    require(refShares.size == 10 && refShares.forall(_ > 0),
      "refShares: 10 positive train-time bin shares")
    // the SAME train-time logit edges the batch calibration tier bins
    // on — one definition (Analytics.calibEdges), zero drift risk
    val binExpr = graft.operators.Analytics.calibEdges.map(e =>
      s"(CASE WHEN $scoreCol >= CAST($e AS DOUBLE) THEN 1 ELSE 0 END)").mkString(" + ")
    val psi = (0 until 10).map { i =>
      val a = s"greatest(CAST(n$i AS DOUBLE) / CAST(total AS DOUBLE), CAST(1e-6 AS DOUBLE))"
      val e = s"CAST(${refShares(i)} AS DOUBLE)"
      s"(($a - $e) * ln($a / $e))"
    }.mkString(" + ")
    scored
      .withWatermark(tsCol, watermarkDelay)
      .selectExpr(tsCol, s"$binExpr AS bin")
      .groupBy(window(col(tsCol), "1 hour").as("w"))
      .agg(count(lit(1)).cast("long").as("total"),
        (0 until 10).map(i =>
          sum(expr(s"CASE WHEN bin = $i THEN 1 ELSE 0 END")).cast("long").as(s"n$i")): _*)
      .select(col("w.start").as("window_start") +: col("total") +:
        (0 until 10).map(i => col(s"n$i")): _*)
      .withColumn("psi", expr(psi))
      .withColumn("status", expr(
        "CASE WHEN psi < 0.1 THEN 'stable' WHEN psi < 0.25 THEN 'moderate' ELSE 'shifted' END"))
  }

  /** Streaming URL-grain exact dedup (r10) — the ingest twin of the
    * batch `corpus_url_dedup`: each arriving doc's URL canonicalizes
    * through the SAME staged expressions as the batch plane
    * ([[graft.functions.UrlCanon.withCanonicalUrl]] — per-row codegen,
    * no shuffle), and `dropDuplicatesWithinWatermark` on the canonical
    * form passes only the first spelling of each page through (state =
    * one row per distinct canonical URL inside the watermark;
    * corpus-historical dedup belongs to the batch plane — the standard
    * lambda split). Emits the input rows + `url_canon`, first arrival
    * wins. State keys on `coalesce(url_canon, url)` — a scheme-less
    * URL canonicalizes to NULL (see [[graft.functions.UrlCanon]]) and
    * must dedup on its raw bytes, not merge with every other
    * malformed row in the NULL group. */
  def urlDedupStream(docs: DataFrame, tsCol: String = "ts", urlCol: String = "url",
      watermarkDelay: String = "10 minutes"): DataFrame =
    graft.functions.UrlCanon.withCanonicalUrl(docs, urlCol)
      .withColumn("_uk", coalesce(col("url_canon"), col(urlCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_uk")
      .drop("_uk")

  /** Corpus shingle table for [[noveltyStream]]'s static side: the
    * DISTINCT word-shingle h60 set of the ingested corpus. Produce and
    * refresh it with the batch plane (write it next to the corpus
    * snapshot; point the stream at the new table on restart) — the
    * same refresh contract as [[simhashComboKeyTable]]. */
  def corpusShingleTable(corpus: DataFrame, textCol: String = "text",
      k: Int = graft.functions.TextAnalysis.DupShingleK): DataFrame = {
    graft.functions.Natives.ensure(corpus.sparkSession)
    corpus.select(explode(
        graft.functions.WordShingles.hashes(graft.Portable.normText(col(textCol)), k)).as("h"))
      .distinct()
  }

  /** Streaming ingest-novelty monitor — the streaming twin of the
    * batch `text_novelty_curve`: per closed 1-hour window, the
    * fraction of the window's DISTINCT word shingles not present in
    * the corpus shingle table ([[corpusShingleTable]], maintained by
    * the batch plane). A collapsing novelty rate means the feed has
    * started re-sending content the corpus already holds — the
    * freshness readout an ingest pipeline watches in real time, with
    * the usual lambda split (batch novelty curve owns the historical
    * first-seen attribution; this plane bounds staleness against the
    * last published shingle snapshot).
    *
    * Plane shape: explode → `dropDuplicatesWithinWatermark` on
    * (window, h) — the cross-microbatch DISTINCT (state is one row
    * per distinct shingle per open window, watermark-evicted) —
    * stream–static LEFT join against the corpus set (static side
    * stays hash-partitioned by h; the stream shuffles only its own
    * shingles), ONE windowed map-combinable aggregate, append on
    * close. */
  def noveltyStream(docs: DataFrame, corpusShingles: DataFrame,
      tsCol: String = "ts", textCol: String = "text",
      k: Int = graft.functions.TextAnalysis.DupShingleK,
      watermarkDelay: String = "2 hours"): DataFrame = {
    graft.functions.Natives.ensure(docs.sparkSession)
    val sh = docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), explode(
        graft.functions.WordShingles.hashes(graft.Portable.normText(col(textCol)), k)).as("h"))
      .withColumn("w", window(col(tsCol), "1 hour"))
      // the window struct carries the event-time tag from here on; ts
      // must go (two tagged columns in one stream is an analyzer error)
      .select(col("w"), col("h"))
      .dropDuplicatesWithinWatermark("w", "h")
    sh.join(corpusShingles.select(col("h"), lit(1L).as("known")), Seq("h"), "left")
      .groupBy(col("w"))
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).cast("long").as("n_new"))
      .select(col("w.start").as("window_start"), col("n_shingles"), col("n_new"),
        (col("n_new").cast("double") / col("n_shingles")).as("novelty_rate"))
  }

  /** Streaming OOV-rate monitor (r11 cont.) — the ingest twin of the
    * batch `corpus_oov_rate`: a feed whose out-of-vocabulary rate
    * climbs against the PUBLISHED training vocabulary is drifting
    * away from what the tokenizer/model was built on (new language,
    * new domain, encoding breakage) — the text-side analog of
    * [[psiStream]]'s score drift. Per closed 1-hour window: tokens
    * explode (per-row codegen), the vocab joins as a STREAM–STATIC
    * left join on the token (the `corpusShingleTable` refresh
    * contract — the static side is the batch plane's published
    * vocab, re-snapshotted on retrain), and ONE windowed
    * map-combinable aggregate emits token/OOV counts + the exact
    * integer 6-dp rate on close. Unlike [[noveltyStream]] this counts
    * OCCURRENCES, not distinct types — rate spikes weighted by volume,
    * no per-window dedup state. */
  def oovStream(docs: DataFrame, vocab: DataFrame,
      tsCol: String = "ts", textCol: String = "text",
      watermarkDelay: String = "2 hours"): DataFrame =
    docs
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol),
        explode(split(graft.Portable.normText(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .join(vocab.select(col("tok"), lit(1L).as("hit")), Seq("tok"), "left")
      .groupBy(window(col(tsCol), "1 hour").as("w"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).cast("long").as("n_oov"))
      .select(col("w.start").as("window_start"), col("n_tokens"), col("n_oov"))
      .withColumn("oov_rate",
        expr(graft.Portable.round6RatioSpark("n_oov", "n_tokens")))

  def binnedDriftStream(events: DataFrame, refRange: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .join(broadcast(refRange), Seq("event_type"))
      .select(col("ts"), col("event_type"),
        expr(graft.operators.Analytics.PsiBinExpr).as("bin"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("window_start"), col("event_type"), col("bin"), col("c"))

  /** Streaming funnel — the incremental twin of the batch
    * `q40_funnel` fold (`operators.Extra.funnelCounts`): per-user
    * state carries the prefix of matched step timestamps, each
    * microbatch advances the frontier greedily over its events in
    * (ts, event_id) order, and UPDATE mode emits the user's current
    * stage after every batch (aggregate per-step counts downstream).
    * The greedy frontier transition is the batch fold's: only the
    * next unmatched step can advance, strictly after the previous
    * step's matched time — a user completing across many batches
    * converges to the batch answer as long as ingestion is
    * time-ordered across batches (within a batch, any order is fine —
    * the group iterator sorts); late cross-batch events are the same
    * staleness bound every stream–static plane here documents. Only
    * funnel-relevant event types reach the state store. */
  def funnelStream(events: Dataset[Event], steps: Seq[String]): Dataset[(Long, Int)] = {
    require(steps.nonEmpty, "funnelStream: at least one step")
    import events.sparkSession.implicits._
    events.filter(e => steps.contains(e.event_type))
      .groupByKey(_.user_id)
      .mapGroupsWithState[Seq[java.sql.Timestamp], (Long, Int)](GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Event], state: GroupState[Seq[java.sql.Timestamp]]) =>
          var times = state.getOption.getOrElse(Seq.empty)
          for (e <- it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))) {
            val next = times.size
            if (next < steps.size && e.event_type == steps(next) &&
                (times.isEmpty || e.ts.after(times.last)))
              times = times :+ e.ts
          }
          state.update(times)
          (user, times.size)
      }
  }

  final case class CdcChange(key: Long, seq: Long, value: Double)
  final case class Scd2State(value: Double, version: Long)
  final case class Scd2Row(key: Long, value: Double, valid_from: Long,
      valid_to: Option[Long], is_current: Boolean)

  /** Streaming SCD2 / CDC apply — the incremental twin of the batch
    * [[graft.operators.Extra.scd2Apply]] merge: per-key state carries
    * the current (value, version); every change CLOSES the previous
    * version (emitting its `[from, to)` history row) and emits the
    * new current row. The base snapshot arrives as `initialState`
    * (version 0), so the first microbatch behaves exactly like the
    * batch merge; unseen keys insert at version 1, mirroring the
    * batch inserts path.
    *
    * Emission contract (Append mode): a key's current row is emitted
    * optimistically and SUPERSEDED by its closure row when a later
    * change arrives — the downstream history table upserts on
    * (key, valid_from), the standard CDC-sink discipline. Within a
    * microbatch, changes apply in `seq` order (the group iterator is
    * sorted); across batches, ordering is the arrival order — the
    * same staleness contract every stream–static plane here
    * documents. State is one fixed-size row per key, O(keys),
    * watermark-free. */
  def scd2Stream(changes: Dataset[CdcChange],
      base: org.apache.spark.sql.KeyValueGroupedDataset[Long, Scd2State]): Dataset[Scd2Row] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.key)
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout(), base) {
        (key: Long, it: Iterator[CdcChange], state: GroupState[Scd2State]) =>
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Row]
          var applied = false
          for (c <- it.toSeq.sortBy(_.seq)) {
            applied = true
            st match {
              case Some(s) =>
                out += Scd2Row(key, s.value, s.version, Some(s.version + 1), is_current = false)
                st = Some(Scd2State(c.value, s.version + 1))
              case None =>
                // unseen key: insert opens at version 1 (the batch
                // merge's inserts stamp), no closure row to emit
                st = Some(Scd2State(c.value, 1L))
            }
          }
          // the runtime also invokes initial-state keys with an empty
          // iterator — an unchanged key must neither emit nor rewrite
          // state (the batch merge leaves unchanged rows in the base)
          if (applied) st.foreach { s =>
            state.update(s)
            out += Scd2Row(key, s.value, s.version, None, is_current = true)
          }
          out.iterator
      }
  }

  /** Initial-state view of a (key, value) base snapshot for
    * [[scd2Stream]]: every base key current at version 0. */
  def scd2BaseState(base: DataFrame, key: String, attr: String): org.apache.spark.sql.KeyValueGroupedDataset[Long, Scd2State] = {
    import base.sparkSession.implicits._
    base.select(col(key).cast("long"), col(attr).cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapValues(kv => Scd2State(kv._2, 0L))
  }

  /** File-source streaming read: watch `streamDir` for parquet event
    * files (schema taken from the batch events table at `schemaDir`) —
    * readStream → transform → sink wiring. */
  def eventsStream(spark: SparkSession, schemaDir: String, streamDir: String): DataFrame = {
    val schema = graft.Tables.events(spark, schemaDir).schema
    spark.readStream.schema(schema).parquet(streamDir)
  }

  /** Streaming content dedup for an ingest pipeline: the batch
    * engine's exact-dedup key (md5 of normalized text) and 60-bit
    * SimHash signature ([[graft.dedup.DedupApi.withSimhash]]) are
    * pure per-row expressions, so the batch and streaming planes
    * share one implementation; exact-content duplicates are dropped
    * within the watermark (state = one row per distinct content key,
    * bounded by the watermark). Downstream batch jobs can run the
    * banded near-dup pair scans over the emitted signatures. */
  def dedupDocStream(docs: DataFrame, id: String = "doc_id", tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): DataFrame =
    graft.dedup.DedupApi.withSimhash(
        // null-text rows (decode failures, metadata-only records) get a
        // per-row fallback key: dropDuplicates treats NULL keys as equal
        // and would silently collapse all of them to one survivor
        docs.withColumn("content_key",
          coalesce(md5(graft.Portable.normText(col("text"))),
            concat(lit("\u0000null:"), col(id).cast("string")))), "text")
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_key")
      // internal helper key stays internal: emitting it would pollute
      // every downstream sink schema with an implementation detail
      .drop("content_key")

  /** Pre-exploded combo-key table for [[nearDupPairsStream]]'s static
    * side: one `(static_id, sig_t, c, k)` row per signature per
    * C(9,3) band combo (84× fan-out). Produce and REFRESH this with
    * the batch plane — e.g. write it to a parquet/Iceberg table right
    * after [[graft.dedup.DedupApi.simhashSignatures]] runs over the
    * merged corpus, and point the stream at the new snapshot on the
    * next restart (the standard lambda refresh contract). Passing the
    * result (or a persisted/loaded copy) to [[nearDupPairsStream]]
    * skips the per-microbatch 84× re-explode of the corpus — at a
    * 10⁹-row signature table that re-explode is 84 G recomputed rows
    * PER TRIGGER, which this table pays once per refresh instead. */
  def simhashComboKeyTable(staticSigs: DataFrame, id: String = "doc_id"): DataFrame = {
    import graft.dedup.DedupApi
    staticSigs
      .select(col(id).as("static_id"), col("simhash").as("sig_t"),
        explode(DedupApi.simhashComboKeys("simhash")).as("ck"))
      .select(col("static_id"), col("sig_t"), col("ck.c").as("c"), col("ck.k").as("k"))
  }

  /** Column contract of [[simhashComboKeyTable]], used to recognize a
    * pre-exploded static side. */
  private val comboKeyCols = Set("static_id", "sig_t", "c", "k")

  /** Streaming near-duplicate detection: incoming docs are simhashed
    * and banded with the SAME 9-block three-combo key expressions as
    * the batch pair scan ([[graft.dedup.DedupApi.simhashComboKeys]]),
    * then stream–static joined against a signature table of the
    * already-ingested corpus (`staticSigs`: `(id, simhash)`, e.g.
    * [[graft.dedup.DedupApi.simhashSignatures]] maintained by the
    * batch plane). Exact STREAM-VS-CORPUS detection for
    * `maxHamming ≤ 6`: a qualifying (stream doc, corpus doc) pair
    * shares ≥ 3 blocks, so it collides in ≥ 1 combo table, regardless
    * of id order. The carve-out: two near-dup docs that BOTH arrive in
    * the stream before the batch plane refreshes `staticSigs` pair
    * with the corpus but not with each other — intra-stream EXACT
    * duplicates are [[dedupDocStream]]'s job upstream, and the
    * periodic batch [[graft.dedup.DedupApi.simhashPairs]] over the
    * merged corpus closes the intra-window near-dup gap (the standard
    * lambda split: streaming plane bounds staleness, batch plane owns
    * completeness). The combo join keys keep the static side
    * hash-partitioned by (c, k) — the stream side only shuffles its
    * 84 key rows per doc, never the corpus. Pairs deduplicate across
    * combo collisions within the watermark. Emits
    * `(doc_a, doc_b, hamming)` in canonical `doc_a < doc_b` order,
    * self-matches (a doc already in the corpus re-arriving) dropped.
    *
    * `staticSigs` is either a raw `(id, simhash)` signature table or
    * a pre-exploded [[simhashComboKeyTable]] (recognized by its
    * column set). Raw signatures are exploded ONCE and persisted via
    * the implicit [[graft.CacheScope]] so microbatches hit the cache
    * instead of recomputing the 84× fan-out per trigger — a TRACKED
    * scope is required for that cache (wrap the stream start in
    * `CacheScope.withScope`): with the untracked default nothing
    * would ever release the cached copy across stream restarts, so
    * the raw path falls back to per-batch recompute with a loud
    * stderr warning. At corpus scale prefer passing the pre-exploded
    * table maintained by the batch plane (see the refresh contract on
    * [[simhashComboKeyTable]]). */
  def nearDupPairsStream(docs: DataFrame, staticSigs: DataFrame,
      id: String = "doc_id", tsCol: String = "ts",
      maxHamming: Int = 6, watermarkDelay: String = "10 minutes")(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    import graft.dedup.DedupApi
    require(maxHamming <= 6,
      s"banded streaming near-dup is exact only for maxHamming <= 6, got $maxHamming")
    val streamKeys = DedupApi.withSimhash(docs, "text")
      .withWatermark(tsCol, watermarkDelay)
      .select(col(id).as("stream_id"), col(tsCol), col("simhash").as("sig_s"),
        explode(DedupApi.simhashComboKeys("simhash")).as("ck"))
      .select(col("stream_id"), col(tsCol), col("sig_s"),
        col("ck.c").as("c"), col("ck.k").as("k"))
    val staticKeys =
      if (staticSigs.columns.toSet == comboKeyCols) staticSigs
      else if (scope ne graft.CacheScope.untracked)
        scope.persist(simhashComboKeyTable(staticSigs, id))
      else {
        // no tracked scope to own the cache lifetime: do NOT persist —
        // a stream is long-lived and nothing would ever unpersist the
        // 84x-exploded copy (restart loops with refreshed signature
        // tables would leak one per start). The caller either wraps
        // the start in CacheScope.withScope (and materializes inside
        // it) or passes the pre-exploded simhashComboKeyTable, which
        // is also the documented corpus-scale contract.
        System.err.println("[graft] nearDupPairsStream: raw signature side used without " +
          "a CacheScope — the 84x combo-key explode will recompute per microbatch. " +
          "Wrap in CacheScope.withScope or pass simhashComboKeyTable(...) output.")
        simhashComboKeyTable(staticSigs, id)
      }
    streamKeys.join(staticKeys, Seq("c", "k"))
      // =!=, NOT an order filter: a stream doc whose id sorts below a
      // matching corpus doc's id must still pair with it
      .filter(col("static_id") =!= col("stream_id") &&
        expr("bit_count(sig_s ^ sig_t)") <= maxHamming)
      .select(least(col("static_id"), col("stream_id")).as("doc_a"),
        greatest(col("static_id"), col("stream_id")).as("doc_b"),
        expr("bit_count(sig_s ^ sig_t)").as("hamming"), col(tsCol))
      .dropDuplicatesWithinWatermark("doc_a", "doc_b")
      .drop(tsCol)
  }

  /** Streaming repeated-SPAN detection (the streaming twin of the
    * batch `dedup_substring` scan): incoming docs are fingerprinted
    * with the SAME native winnow expression as the batch plane
    * ([[graft.dedup.DedupApi.winnowFingerprints]] — h60 over k-char
    * windows, per-w-window minima), then stream–static joined against
    * a fingerprint table of the ingested corpus. A stream doc sharing
    * any substring of ≥ k+w−1 normalized chars with a corpus doc —
    * license boilerplate, syndicated paragraphs, benchmark text —
    * shares a fingerprint at ANY offsets and is flagged before it
    * lands in the corpus. Same lambda split as
    * [[nearDupPairsStream]]: the streaming plane bounds staleness
    * against the last published fingerprint snapshot; the batch
    * `substringPairs` over the merged corpus owns completeness.
    *
    * `staticFps` is the `(static_id, fp)` table to detect against —
    * produce and refresh it with
    * `DedupApi.winnowFingerprints(corpus, id, text)` (rename the id
    * column to `static_id`), the same refresh contract as
    * [[simhashComboKeyTable]]. The static side stays hash-partitioned
    * by fp; the stream side shuffles only its ~len·2/(w+1) fingerprint
    * rows per doc. Emits one `(stream_id, static_id)` FLAG per
    * (stream doc, corpus doc) pair, however many spans they share,
    * deduped within the watermark (streaming aggregations cannot
    * countDistinct; span-volume accounting belongs to the batch
    * `substringPairs` plane). */
  /** Intra-stream near-dup pairs — the watermarked STREAM–STREAM
    * self-join that closes [[nearDupPairsStream]]'s documented
    * carve-out (two near-dup docs BOTH arriving before the batch
    * plane refreshes the static signature table): each arrival's 84
    * combo keys join against the same stream's recent keys, with the
    * time-range condition (`|ts_a − ts_b| ≤ windowMinutes`) that lets
    * Spark bound and evict join state at the watermark — unbounded
    * intra-stream pairing is by construction a batch job
    * ([[graft.dedup.DedupApi.simhashPairs]] over the merged corpus),
    * so the window IS the semantic: "flag near-dups landing close
    * together", the burst-duplicate shape (same article syndicated to
    * many feeds within minutes). Same C(9,3) banding as every other
    * plane — exact within the window for hamming ≤ 6; pairs dedupe
    * across combo collisions within the watermark. Emits canonical
    * `(doc_a, doc_b, hamming)`. */
  def intraStreamNearDupPairs(docs: DataFrame,
      id: String = "doc_id", tsCol: String = "ts", textCol: String = "text",
      maxHamming: Int = 6, windowMinutes: Int = 10,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.dedup.DedupApi
    require(maxHamming <= 6,
      s"banded streaming near-dup is exact only for maxHamming <= 6, got $maxHamming")
    def keyed(side: String): DataFrame =
      DedupApi.withSimhash(docs, textCol)
        .withWatermark(tsCol, watermarkDelay)
        .select(col(id).as(s"${side}_id"), col(tsCol).as(s"${side}_ts"),
          col("simhash").as(s"${side}_sig"),
          explode(DedupApi.simhashComboKeys("simhash")).as("ck"))
        .select(col(s"${side}_id"), col(s"${side}_ts"), col(s"${side}_sig"),
          col("ck.c").as(s"${side}_c"), col("ck.k").as(s"${side}_k"))
    keyed("a").join(keyed("b"),
        expr(s"""a_id < b_id AND
          b_ts BETWEEN a_ts - INTERVAL $windowMinutes MINUTES
                   AND a_ts + INTERVAL $windowMinutes MINUTES""") &&
          col("a_c") === col("b_c") && col("a_k") === col("b_k"))
      .filter(expr("bit_count(a_sig ^ b_sig)") <= maxHamming)
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"),
        expr("CAST(bit_count(a_sig ^ b_sig) AS INT)").as("hamming"), col("a_ts"))
      .dropDuplicatesWithinWatermark("doc_a", "doc_b")
      .drop("a_ts")
  }

  /** Pre-bucketed hyperplane-LSH table for [[embedNearDupStream]]'s
    * static side: one `(static_id, sv, snrm, t, bk)` row per corpus
    * vector per LSH table (NumTables× fan-out), buckets keyed with
    * the SAME deterministic sign-code expressions as the batch
    * `dedup_embed_cosine_lsh` plane
    * ([[graft.similarity.Similarity.bucketExprSparkFor]]), with the
    * same per-(table, bucket) population cap — a hot bucket (near-
    * constant region of embedding space) would otherwise make every
    * arriving vector join |bucket| static rows per trigger. Produce
    * and REFRESH this with the batch plane (write it to a parquet
    * table right after the corpus embedding table updates and point
    * the stream at the new snapshot on restart) — the
    * [[simhashComboKeyTable]] refresh contract. The corpus vector and
    * its norm ride along so the stream's exact-cosine verify needs no
    * second corpus join; at `NumTables` = 4 that is a 4× vector
    * replication — for very wide embeddings keep the cap and accept
    * the storage, or shrink `NumTables` with the batch plane. */
  def cosineBucketTable(staticVecs: DataFrame, id: String = "vec_id",
      vec: String = "embedding",
      maxBucketSize: Int = graft.similarity.Similarity.KnnGraphMaxBucket): DataFrame = {
    import graft.similarity.Similarity
    graft.functions.Natives.ensure(staticVecs.sparkSession)
    val n = staticVecs
      .select(col(id).as("static_id"),
        expr(s"transform($vec, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("snrm", expr("sqrt(graft_dot(v, v))"))
    val all = n.select(col("static_id"), col("v").as("sv"), col("snrm"),
        explode(array((0 until Similarity.NumTables).map(t =>
          struct(lit(t).as("t"),
            expr(Similarity.bucketExprSparkFor(t)).as("bk"))): _*)).as("tb"))
      .select(col("static_id"), col("sv"), col("snrm"),
        col("tb.t").as("t"), col("tb.bk").as("bk"))
    if (maxBucketSize <= 0) all
    else {
      // one materialization of the NumTables fan-out (r13 ADVICE): the
      // cap path reads `all` twice (bucket-size aggregate + anti-join
      // probe side); unpersisted, the standalone corpus-scale
      // snapshot-build path would recompute the whole LSH fan-out.
      // Eager localCheckpoint (not a scope persist: callers like
      // [[embedNearDupStream]] already persist the capped RESULT —
      // double-caching the fan-out would cost corpus × NumTables
      // memory twice); blocks are reclaimed by the ContextCleaner
      // once the frame is unreachable
      val mat = all.localCheckpoint(true)
      val oversized = mat.groupBy(col("t"), col("bk"))
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") > maxBucketSize)
        .select(col("t").as("f_t"), col("bk").as("f_bk"))
      mat.join(broadcast(oversized),
        col("t") === col("f_t") && col("bk") === col("f_bk"), "left_anti")
    }
  }

  /** Width-aware variant of [[cosineBucketTable]] (r13 verdict item
    * #7): returns `(buckets, vectors)` where `buckets` carries ONLY
    * `(static_id, t, bk)` — the NumTables× fan-out replicates 3
    * scalars instead of the embedding — and `vectors` is the 1×
    * `(static_id, sv, snrm)` side table the stream joins once per
    * surviving candidate. CROSSOVER: the fat table stores
    * `NumTables × corpus × width × 8 B` of vector payload (4× at the
    * default NumTables=4) and verifies with zero extra joins; the
    * slim pair stores it once but adds one hash join on `static_id`
    * per microbatch. Prefer slim when the replicated payload
    * dominates snapshot storage/IO — i.e. wide embeddings over large
    * corpora, roughly `width ≥ ~1k` floats or whenever
    * `(NumTables − 1) × corpus × width × 8 B` exceeds what the
    * snapshot budget tolerates; prefer fat when embeddings are
    * narrow and the per-trigger join is the scarcer resource. Same
    * cap semantics and bucket expressions as [[cosineBucketTable]];
    * [[embedNearDupStream]] accepts the slim pair via its
    * `staticVecSide` parameter and produces identical flags
    * (spec-pinned). */
  def cosineBucketTableSlim(staticVecs: DataFrame, id: String = "vec_id",
      vec: String = "embedding",
      maxBucketSize: Int = graft.similarity.Similarity.KnnGraphMaxBucket): (DataFrame, DataFrame) = {
    val fat = cosineBucketTable(staticVecs, id, vec, maxBucketSize)
    (fat.select(col("static_id"), col("t"), col("bk")),
      // one row per corpus vector (the fan-out replicated it NumTables×,
      // minus cap-dropped rows — distinct restores the 1× grain; a
      // vector whose EVERY bucket was capped away still verifies fine,
      // it just never receives candidates, same as in the fat table)
      fat.select(col("static_id"), col("sv"), col("snrm")).distinct())
  }

  /** Column contract of [[cosineBucketTableSlim]]'s bucket half. */
  private val cosineBucketSlimCols = Set("static_id", "t", "bk")

  /** Column contract of [[cosineBucketTable]], used to recognize a
    * pre-bucketed static side. A SUPERSET of these columns also counts
    * as pre-bucketed (a published snapshot read back with an extra
    * partition/date column must not silently fall through to the raw
    * path and get re-bucketed — r13 ADVICE); the extras are dropped.
    * A table carrying SOME of the distinctive columns but not the full
    * contract is a near-miss (e.g. a snapshot written without `snrm`)
    * and is rejected loudly instead of being treated as a raw corpus. */
  private val cosineBucketCols = Set("static_id", "sv", "snrm", "t", "bk")

  /** The contract columns distinctive enough to signal "this was meant
    * to be a bucket table" (`t` alone is too generic a name to count). */
  private val cosineBucketMarkers = Set("static_id", "sv", "snrm", "bk")

  /** Streaming SEMANTIC near-dup detection — the embedding-space twin
    * of [[nearDupPairsStream]] (that plane reads content via SimHash;
    * this one reads meaning via cosine): arriving vectors are
    * normalized and sign-code-bucketed with the SAME deterministic
    * hyperplane expressions as the batch `dedup_embed_cosine_lsh`
    * gate, stream–static joined on `(t, bk)` against the corpus
    * bucket table, exact-cosine verified against the carried corpus
    * vector (`graft_dot`, the codegen'd kernel every batch tier
    * rides), and watermark-deduped across the NumTables collisions.
    * Same lambda split as every dedup plane: this bounds staleness
    * against the last published corpus snapshot; the batch
    * [[graft.dedup.DedupApi.semanticPairs]] over the merged corpus
    * owns completeness (including the stream-vs-stream window this
    * plane — like LSH recall itself — does not promise). The static
    * side stays hash-partitioned by (t, bk); the stream side only
    * shuffles its NumTables key rows per vector, never the corpus.
    * Emits `(id_a, id_b, cos)` in canonical order, self-matches
    * dropped, cosine ≥ `threshold`.
    *
    * `staticVecs` is either a raw `(id, embedding)` corpus table or a
    * pre-bucketed [[cosineBucketTable]] (recognized by its column
    * set — any superset of the contract columns counts, extras are
    * dropped; a partial column set is rejected loudly). Raw tables
    * are bucketed ONCE and persisted via the implicit
    * [[graft.CacheScope]] (tracked scope required — same contract and
    * fallback warning as [[nearDupPairsStream]]); at corpus scale
    * pass the pre-bucketed snapshot.
    *
    * CAP-BOUNDARY CAVEAT (r13 ADVICE, part of the equivalence claim):
    * `maxBucketSize` here is applied to CORPUS-side buckets sized
    * over the corpus alone ([[cosineBucketTable]] cannot know future
    * stream arrivals at snapshot-build time), while the batch
    * `cosinePairsLsh` sizes buckets over the full union and drops
    * BOTH sides of an oversized bucket. Away from the cap boundary
    * the two planes flag identical pairs (what the parity spec
    * asserts); a bucket whose union population crosses the cap only
    * because of stream-side arrivals is dropped by the batch plane
    * but still probed by the stream — near the boundary the streamed
    * flag set can be a superset of the batch pair set. The batch
    * sweep over the merged corpus remains the completeness/semantics
    * owner, exactly as with LSH recall itself. */
  def embedNearDupStream(vecs: DataFrame, staticVecs: DataFrame,
      id: String = "vec_id", tsCol: String = "ts", vecCol: String = "embedding",
      threshold: Double = 0.4, watermarkDelay: String = "10 minutes",
      maxBucketSize: Int = graft.similarity.Similarity.KnnGraphMaxBucket,
      staticVecSide: Option[DataFrame] = None)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): DataFrame = {
    import graft.similarity.Similarity
    graft.functions.Natives.ensure(vecs.sparkSession)
    val staticColSet = staticVecs.columns.toSet
    val slimSideCols = Set("static_id", "sv", "snrm")
    val staticJoin: DataFrame => DataFrame = staticVecSide match {
      case Some(side) =>
        // width-aware slim pair ([[cosineBucketTableSlim]]): buckets
        // carry ids only; the 1x vector side joins per candidate
        require(cosineBucketSlimCols.subsetOf(staticColSet),
          s"embedNearDupStream: with staticVecSide, staticVecs must be the slim bucket " +
            s"half ${cosineBucketSlimCols.toSeq.sorted.mkString(", ")} — got " +
            staticColSet.toSeq.sorted.mkString(", "))
        require(slimSideCols.subsetOf(side.columns.toSet),
          s"embedNearDupStream: staticVecSide must carry ${slimSideCols.toSeq.sorted.mkString(", ")} " +
            s"(cosineBucketTableSlim's vector half) — got ${side.columns.sorted.mkString(", ")}")
        sk => sk.join(staticVecs.select(cosineBucketSlimCols.toSeq.sorted.map(col): _*), Seq("t", "bk"))
          .join(side.select(slimSideCols.toSeq.sorted.map(col): _*), Seq("static_id"))
      case None =>
        val staticBk =
          if (cosineBucketCols.subsetOf(staticColSet))
            // pre-bucketed snapshot; extra columns (partition/date stamps
            // a publisher added) are dropped, not a reason to re-bucket
            staticVecs.select(cosineBucketCols.toSeq.sorted.map(col): _*)
          else if ((staticColSet & cosineBucketMarkers).nonEmpty) {
            val slim = cosineBucketSlimCols.subsetOf(staticColSet) &&
              !staticColSet.contains("sv") && !staticColSet.contains("snrm")
            throw new IllegalArgumentException(
              if (slim)
                "embedNearDupStream: static side looks like cosineBucketTableSlim's " +
                  "bucket half — pass its vector half via staticVecSide"
              else
                s"embedNearDupStream: static side carries bucket-table columns " +
                  s"${(staticColSet & cosineBucketMarkers).toSeq.sorted.mkString(", ")} but not the " +
                  s"full cosineBucketTable contract ${cosineBucketCols.toSeq.sorted.mkString(", ")} — " +
                  "re-publish the snapshot with cosineBucketTable(...) or pass the raw " +
                  "(id, embedding) corpus table")
          } else if (scope ne graft.CacheScope.untracked)
            scope.persist(cosineBucketTable(staticVecs, id, vecCol, maxBucketSize))
          else {
            System.err.println("[graft] embedNearDupStream: raw corpus side used without " +
              "a CacheScope — the LSH bucket build will recompute per microbatch. " +
              "Wrap in CacheScope.withScope or pass cosineBucketTable(...) output.")
            cosineBucketTable(staticVecs, id, vecCol, maxBucketSize)
          }
        sk => sk.join(staticBk, Seq("t", "bk"))
    }
    val streamKeys = vecs
      .select(col(id).as("stream_id"), col(tsCol),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .withWatermark(tsCol, watermarkDelay)
      .select(col("stream_id"), col(tsCol), col("v"), col("nrm"),
        explode(array((0 until Similarity.NumTables).map(t =>
          struct(lit(t).as("t"),
            expr(Similarity.bucketExprSparkFor(t)).as("bk"))): _*)).as("tb"))
      .select(col("stream_id"), col(tsCol), col("v"), col("nrm"),
        col("tb.t").as("t"), col("tb.bk").as("bk"))
    staticJoin(streamKeys)
      .filter(col("static_id") =!= col("stream_id"))
      .withColumn("c", expr("graft_dot(v, sv) / (nrm * snrm)"))
      .filter(col("c") >= threshold)
      .select(least(col("static_id"), col("stream_id")).as("id_a"),
        greatest(col("static_id"), col("stream_id")).as("id_b"),
        round(col("c"), 6).as("cos"), col(tsCol))
      .dropDuplicatesWithinWatermark("id_a", "id_b")
      .drop(tsCol)
  }

  /** Streaming benchmark decontamination — the ingest-time twin of
    * `corpus_decontaminate_bloom`: incoming docs' word-shingle h60
    * hashes (the native one-pass `graft_word_shingles`, shared with
    * the batch plane) probe a broadcast Bloom blob MAP-SIDE, and only
    * the surviving shingles hit the stream–static verify join against
    * the exact benchmark hash set. A contaminated doc is flagged
    * before it lands in the corpus; Blooms have no false negatives,
    * so the prefilter never drops a true hit, and false positives
    * cost only verify-join input.
    *
    * `benchHashes` is the `(hk)` DISTINCT h60 table of benchmark
    * shingles and `bloomBlob` the ONE-ROW `(bloom)` table built from
    * it (build both with [[benchBloomTables]]; persist + refresh on
    * benchmark change — the [[simhashComboKeyTable]] contract). Emits
    * one `(stream_id)` flag per contaminated doc, deduped within the
    * watermark. */
  def decontaminateStream(docs: DataFrame, benchHashes: DataFrame, bloomBlob: DataFrame,
      id: String = "doc_id", tsCol: String = "ts", textCol: String = "text",
      k: Int = graft.functions.Pipeline.DecontaminationShingle,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(benchHashes.columns.toSet == Set("hk"),
      s"benchHashes must be (hk) — got ${benchHashes.columns.mkString(", ")}")
    require(bloomBlob.columns.toSet == Set("bloom"),
      s"bloomBlob must be (bloom) — got ${bloomBlob.columns.mkString(", ")}")
    val spark = docs.sparkSession
    graft.functions.Natives.ensure(spark)
    docs.withWatermark(tsCol, watermarkDelay)
      .select(col(id), col(tsCol),
        explode(graft.functions.WordShingles.hashes(
          graft.Portable.normText(col(textCol)), k)).as("hk"))
      .join(broadcast(bloomBlob)) // one-row cross join — the blob broadcast
      .filter(expr("graft_bloom_contains(bloom, hk)"))
      .drop("bloom")
      .join(benchHashes, Seq("hk"), "left_semi") // exact verify, stream–static
      .select(col(id).as("stream_id"), col(tsCol))
      .dropDuplicatesWithinWatermark("stream_id")
      .drop(tsCol)
  }

  /** Composed streaming ingest — the streaming twin of the batch
    * `pipeline_ingest_full` front half, stages in the same
    * cheap-per-row-first order: quality gate (token-count band +
    * unique-token ratio, the batch pipeline's expressions) →
    * benchmark decontamination DROP → exact-content dedup within the
    * watermark ([[dedupDocStream]], which also emits the SimHash
    * signature downstream near-dup banding consumes).
    *
    * Decontamination here DROPS the doc (the ingest contract) rather
    * than emitting flags ([[decontaminateStream]]'s audit contract).
    * Both benchmark tables ride one-row/array BROADCASTS probed
    * map-side: the Bloom blob prefilters, and only blob hits pay the
    * exact `arrays_overlap` against the broadcast hash-set array — a
    * clean doc costs k Bloom probes, zero joins, zero state. This is
    * the eval-scale contract (benchmark sets are MBs); a benchmark too
    * big for one broadcast array downgrades to flags via
    * [[decontaminateStream]]'s shuffled verify join. Stream-batch
    * parity of every gate is pinned in `StreamingDedupSpec`. */
  def ingestStream(docs: DataFrame, benchHashes: DataFrame, bloomBlob: DataFrame,
      id: String = "doc_id", tsCol: String = "ts", textCol: String = "text",
      k: Int = graft.functions.Pipeline.DecontaminationShingle,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(benchHashes.columns.toSet == Set("hk"),
      s"benchHashes must be (hk) — got ${benchHashes.columns.mkString(", ")}")
    require(bloomBlob.columns.toSet == Set("bloom"),
      s"bloomBlob must be (bloom) — got ${bloomBlob.columns.mkString(", ")}")
    val spark = docs.sparkSession
    graft.functions.Natives.ensure(spark)
    val benchArr = benchHashes.agg(sort_array(collect_set(col("hk"))).as("bench_arr"))
    val toks = split(graft.Portable.normText(col(textCol)), " ")
    val gated = docs
      .withColumn("toks", toks)
      .filter(size(col("toks")).between(20, 80) &&
        size(array_distinct(col("toks"))).cast("double") / size(col("toks")) >= 0.3)
      .withColumn("sh", graft.functions.WordShingles.hashes(
        graft.Portable.normText(col(textCol)), k))
      .join(broadcast(bloomBlob))  // one-row cross joins: blob + exact set
      .join(broadcast(benchArr))
      .filter(!expr("exists(sh, h -> graft_bloom_contains(bloom, h))")
        || !arrays_overlap(col("sh"), col("bench_arr")))
      .drop("bloom", "bench_arr", "sh", "toks")
    dedupDocStream(gated, id, tsCol, watermarkDelay)
  }

  /** Build the two static tables [[decontaminateStream]] consumes from
    * a benchmark document table: the distinct shingle-hash set and the
    * one-row Bloom blob sized at build time from its count. The hash
    * set persists via the implicit scope BEFORE the sizing count —
    * without it the full shingle+distinct job would run three times
    * (sizing count, blob build, the caller's first use); the returned
    * `hashes` frame IS that persisted copy, released by the scope
    * (refresh contract: rebuild both tables inside a fresh scope when
    * the benchmark changes). */
  def benchBloomTables(bench: DataFrame, text: String = "text",
      k: Int = graft.functions.Pipeline.DecontaminationShingle)(
      implicit scope: graft.CacheScope = graft.CacheScope.untracked): (DataFrame, DataFrame) = {
    val spark = bench.sparkSession
    graft.functions.Natives.ensure(spark)
    val hashes = scope.persist(bench
      .select(explode(graft.functions.WordShingles.hashes(
        graft.Portable.normText(col(text)), k)).as("hk"))
      .distinct())
    val n = math.max(64L, hashes.count())
    val mBits = ((n * graft.functions.Pipeline.BloomBitsPerKey + 63) / 64) * 64
    val blob = hashes.agg(
      expr(s"graft_bloom_agg(hk, ${mBits}L, ${graft.functions.Pipeline.BloomHashes})").as("bloom"))
    (hashes, blob)
  }

  def repeatedSpanStream(docs: DataFrame, staticFps: DataFrame,
      id: String = "doc_id", tsCol: String = "ts", textCol: String = "text",
      k: Int = graft.dedup.DedupApi.WinnowK,
      w: Int = graft.dedup.DedupApi.WinnowW,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(staticFps.columns.toSet == Set("static_id", "fp"),
      s"staticFps must be (static_id, fp) — got ${staticFps.columns.mkString(", ")}")
    graft.dedup.DedupApi.winnowFingerprints(
        docs.withWatermark(tsCol, watermarkDelay),
        id, textCol, k, w, passthrough = Seq(tsCol))
      .join(staticFps, Seq("fp"))
      .filter(col("static_id") =!= col(id))
      .select(col(id).as("stream_id"), col("static_id"), col(tsCol))
      // one flag per (stream doc, corpus doc), however many spans they
      // share — streaming distinct within the watermark (countDistinct
      // is not available in streaming aggregations)
      .dropDuplicatesWithinWatermark("stream_id", "static_id")
      .drop(tsCol)
  }
}
