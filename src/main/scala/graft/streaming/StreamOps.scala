package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the engine's operators.
  *
  * The parity core (`graft.Functioniser`) is a stateless narrow projection
  * and therefore works on streaming DataFrames unchanged — see
  * `StreamingSpec`. So is every other stateless batch operator: it
  * needs no form here, and the config registry streams it under its
  * batch name (`Pipeline.OpSpec.streaming`). The operators here are the
  * stateful ones that need watermarks. The streaming sinks are
  * per-micro-batch bodies over the batch operators, in
  * `Pipeline.streamSinkOps`.
  *
  * Scale notes: all state is keyed, and everything EVENT-sized is
  * bounded by the watermark horizon. The one exception is
  * sessionization's per-user session counter (O(1) per user), which by
  * default outlives the watermark so numbering matches a batch replay —
  * see its `idleRetentionSeconds` for the TTL tradeoff. Output mode
  * `update`/`append` both work for the windowed aggregate depending on
  * sink semantics.
  */
object StreamOps {

  /** Event-time in microseconds — shared by every stateful operator. */
  private def micros(t: Timestamp): Long =
    t.getTime * 1000L + t.getNanos / 1000 % 1000

  /** Watermarked tumbling-window stats per event type — the streaming
    * form of `Events.windowedStats`. */
  def windowedStats(events: DataFrame, tsCol: String = "ts",
                    windowLength: String = "1 hour",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Live host-graph edges — the streaming form of
    * [[graft.operators.Graph.hostGraph]]: per tumbling event-time
    * window, (src_host, dst_host) link counts emit append-mode when
    * the watermark closes the window — the "who started linking to
    * whom THIS hour" crawl monitor. Host extraction is the same one
    * `UrlOps.hostOf` grammar (staged authority materialization);
    * distinct-page counting uses approx_count_distinct (exact
    * count_distinct is not streamable) — a deterministic function of
    * the window's page set, so closed rows equal the batch run of
    * this same body on the same slice (parity-spec'd).
    * Unparseable-edge drops ride as the batch operator's
    * HAVING-style aggregated-flag filter (a row filter on the host
    * expressions would be predicate-pushed into per-conjunct
    * re-extraction). State per (window, host pair) is one count +
    * one HLL sketch. Output: (window_start, src_host, dst_host,
    * n_links, n_pages_approx). */
  def hostGraphWindowedStream(links: DataFrame, srcCol: String,
                              dstUrlCol: String,
                              pageIdCol: String = "doc_id",
                              tsCol: String = "ts",
                              windowLength: String = "1 hour",
                              watermark: String = "2 hours",
                              srcIsUrl: Boolean = true): DataFrame = {
    import graft.operators.UrlOps
    val auths = links.select(
      (if (srcIsUrl) UrlOps.hostAuthority(UrlOps.workingForm(col(srcCol)))
       else lower(col(srcCol))).as("__src_a"),
      UrlOps.hostAuthority(UrlOps.workingForm(col(dstUrlCol)))
        .as("__dst_a"),
      col(pageIdCol).as("__page"), col(tsCol))
    val srcHost =
      if (srcIsUrl) UrlOps.hostFromAuth(col("__src_a"))
      else col("__src_a")
    val valid = col("src_host").isNotNull && col("src_host") =!= "" &&
      col("dst_host").isNotNull && col("dst_host") =!= ""
    auths.select(srcHost.as("src_host"),
        UrlOps.hostFromAuth(col("__dst_a")).as("dst_host"),
        col("__page"), col(tsCol))
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength).as("w"),
        col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("n_links"),
        approx_count_distinct(col("__page")).as("n_pages_approx"),
        min(valid).as("__ok"))
      .filter(col("__ok"))
      .select(col("w.start").as("window_start"), col("src_host"),
        col("dst_host"), col("n_links"), col("n_pages_approx"))
  }

  /** Input rows for [[trendingTokensStream]]. */
  case class StreamDoc(doc_id: Long, text: String, ts: Timestamp)

  /** Per-window quantiles on streams — the "hourly p99" metric: exact
    * (ε = 0) or bounded-state (ε > 0) quantiles per tumbling event-time
    * window and group, emitted APPEND-mode when the watermark closes
    * the window. Built from the house GK sketch aggregate inside a
    * native watermarked window aggregation, so the ENGINE owns state
    * lifecycle and emission; at ε = 0 the summary is a pure function
    * of the window's value multiset (order-independent), making the
    * closed-window rows equal the batch computation on the same slice
    * digit-for-digit (parity-spec'd). State per (window, group) is the
    * sketch summary — O((1/ε)·log εn) at ε > 0, the whole multiset at
    * the exact setting (size the window accordingly).
    * Output: (window_start, groupCols..., q, value). */
  def windowedQuantilesStream(events: DataFrame, valueCol: String,
                              qs: Seq[Double],
                              tsCol: String = "ts",
                              windowLength: String = "1 hour",
                              watermark: String = "2 hours",
                              eps: Double = 0.0,
                              groupCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.graftext.QuantileSketch
    val sketch = QuantileSketch(col(valueCol).cast("double"), eps, qs)
      .as("qv")
    val keys = window(col(tsCol), windowLength).as("w") +:
      groupCols.map(col)
    val qlits = array(qs.map(lit): _*)
    events.withWatermark(tsCol, watermark)
      .groupBy(keys: _*)
      .agg(sketch)
      .select((col("w.start").as("window_start") +: groupCols.map(col)) :+
        posexplode(col("qv")): _*)
      .select((col("window_start") +: groupCols.map(col)) ++ Seq(
        element_at(qlits, col("pos") + 1).as("q"),
        col("col").as("value")): _*)
  }

  /** Input/output/state rows for streaming as-of enrichment. */
  case class LeftEvent(user_id: Long, event_id: Long, ts: Timestamp)
  case class RightEvent(user_id: Long, right_id: Long, ts: Timestamp)
  case class AsOfOut(user_id: Long, event_id: Long, right_id: Option[Long])
  case class AsOfSide(tsMicros: Long, id: Long, isRight: Boolean)
  case class AsOfState(buf: Seq[AsOfSide])

  /** Streaming as-of (point-in-time) enrichment — the Structured
    * Streaming form of `AsOfJoin.asOfJoin`: each left event is emitted
    * with the LATEST right event of the same key with `rightTs ≤
    * leftTs` (ties admit the right row, like batch), or None when no
    * right precedes it.
    *
    * Event-time-exact, not arrival-order-approximate: a left is held in
    * state until the watermark passes its timestamp — after that no
    * right that could precede it can still arrive (it would be late and
    * dropped), so the match equals a batch replay on any input delivered
    * within the watermark horizon (spec-pinned, stragglers included).
    *
    * State per key: the in-horizon lefts and rights, plus ONE right — the
    * latest already past the watermark — kept as the standing snapshot
    * for future lefts (that right can match them forever; this is the
    * semantic of enrichment against a keyed snapshot, and the reason the
    * state floor is O(1) per key rather than zero). Late rows are
    * dropped explicitly, as elsewhere. */
  def asOfJoinStream(left: Dataset[LeftEvent], right: Dataset[RightEvent],
                     watermark: String = "2 hours"): Dataset[AsOfOut] = {
    val session = left.sparkSession
    import session.implicits._

    val l = left.toDF().withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("event_id").as("id"),
        lit(false).as("isRight"))
    val r = right.toDF().withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("right_id").as("id"),
        lit(true).as("isRight"))
    l.union(r).as[(Long, Timestamp, Long, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsOfState, AsOfOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, in: Iterator[(Long, Timestamp, Long, Boolean)],
         state: GroupState[AsOfState]) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val buf = (state.getOption.map(_.buf).getOrElse(Vector.empty) ++
              in.map { case (_, ts, id, isR) => AsOfSide(micros(ts), id, isR) }
                .filter(_.tsMicros >= wmMicros)) // standard late-data drop
            .toVector
          // rights sorted for matching: latest with rts <= lts wins; ties
          // on the timestamp order by xxhash64(struct(right_id)) — i.e.
          // XXH64(id, seed 42) — so the winner is BIT-IDENTICAL to the
          // batch operator's content-hash tie-break
          val rights = buf.filter(_.isRight).sortBy(e =>
            (e.tsMicros,
              org.apache.spark.sql.catalyst.expressions.XXH64
                .hashLong(e.id, 42L),
              e.id))
          val (ready, pendingLefts) = buf.filter(!_.isRight)
            .sortBy(e => (e.tsMicros, e.id))
            .partition(_.tsMicros < wmMicros)
          // single merge pass over the two sorted sequences: O(L + R),
          // not O(L × R) — hot keys stay linear per micro-batch
          var ri = 0
          var latest: Option[AsOfSide] = None
          val outs = ready.map { lft =>
            while (ri < rights.length &&
                rights(ri).tsMicros <= lft.tsMicros) {
              latest = Some(rights(ri))
              ri += 1
            }
            AsOfOut(userId, lft.id, latest.map(_.id))
          }
          // evict rights no pending or future left can need: pending and
          // future lefts all have lts ≥ wm, so of the rights below the
          // watermark only the single latest (the snapshot) can still win
          val (below, above) = rights.partition(_.tsMicros < wmMicros)
          val keptRights = below.takeRight(1) ++ above
          if (keptRights.isEmpty && pendingLefts.isEmpty) {
            // left-only keys fully drain — don't leave a zero-value
            // state entry behind (the kept snapshot is the only
            // deliberately-persistent state)
            if (state.exists) state.remove()
          } else {
            state.update(AsOfState(keptRights ++ pendingLefts))
            if (pendingLefts.nonEmpty) {
              // wake when the watermark passes the earliest pending left
              state.setTimeoutTimestamp(math.max(
                pendingLefts.head.tsMicros / 1000 + 1,
                state.getCurrentWatermarkMs() + 1))
            }
          }
          outs.iterator
      }
  }

  /** Streaming range (interval) join — the Structured Streaming form of
    * `RangeJoin.rangeJoin`: all (left, right) pairs with the same key and
    * `rightTs ∈ [leftTs − lower, leftTs + upper]`.
    *
    * This one needs NO custom state machine: Spark's symmetric
    * stream-stream hash join plans the equi-key with the range predicate
    * as its state-eviction condition — with both sides watermarked, a
    * buffered row is dropped exactly when the watermark proves no future
    * partner can reach it. That is the whole batch operator's semantics,
    * obtained by declaring the join and letting the engine own the state,
    * so the batch-side bin fan-out trick isn't reproduced here (streaming
    * state is already bounded by the time window, which is the problem
    * the bins solve for a batch shuffle).
    *
    * Matches equal a batch `rangeJoin` replay on any input delivered
    * within the watermark horizon (spec-pinned, out-of-order included);
    * output columns are identical: (key, left ts, leftCols, rightCols).
    * Inner-join semantics — unmatched rows drop out. */
  def rangeJoinStream(left: DataFrame, right: DataFrame, keyCol: String,
                      tsCol: String, lowerSeconds: Long, upperSeconds: Long,
                      leftCols: Seq[String], rightCols: Seq[String],
                      watermark: String = "2 hours"): DataFrame = {
    require(lowerSeconds >= 0 && upperSeconds >= 0,
      "bounds must be non-negative")
    require(lowerSeconds + upperSeconds > 0, "window span must be positive")
    val reserved = Set(keyCol, tsCol, "__key", "__rkey", "__lts", "__rts")
    val clash = (leftCols.toSet & rightCols.toSet) ++
      ((leftCols.toSet ++ rightCols.toSet) & reserved)
    require(clash.isEmpty,
      s"left/right payload column names must be disjoint and distinct " +
        s"from key/ts/internal names; clashing: ${clash.mkString(", ")} " +
        "— rename upstream (e.g. withColumnRenamed)")
    // rename FIRST, then watermark the renamed column — the event-time
    // tag must sit on the column the join condition references
    val l = left.select(
        (Seq(col(keyCol).as("__key"), col(tsCol).as("__lts")) ++
          leftCols.map(col)): _*)
      .withWatermark("__lts", watermark)
    val r = right.select(
        (Seq(col(keyCol).as("__rkey"), col(tsCol).as("__rts")) ++
          rightCols.map(col)): _*)
      .withWatermark("__rts", watermark)
    l.join(r, col("__key") === col("__rkey") &&
        col("__rts") >= col("__lts") -
          expr(s"INTERVAL $lowerSeconds SECONDS") &&
        col("__rts") <= col("__lts") +
          expr(s"INTERVAL $upperSeconds SECONDS"))
      .select(
        Seq(col("__key").as(keyCol), col("__lts").as(tsCol)) ++
          leftCols.map(col) ++ rightCols.map(col): _*)
  }

  /** Input/output/state rows for the streaming funnel. */
  case class FunnelEvent(user_id: Long, event_type: String, ts: Timestamp)
  case class FunnelOut(user_id: Long, n_steps: Int, completed: Boolean)
  case class FunnelEntry(tsMicros: Long, eventType: String)
  case class FunnelState(emitted: Boolean, buf: Seq[FunnelEntry])

  /** Streaming anchored funnel — the `flatMapGroupsWithState` form of
    * `Events.funnel`, same semantics: the anchor is the user's EARLIEST
    * `steps.head` event, each later step takes the earliest event of its
    * type strictly after the previous step and within `anchor +
    * windowSeconds`, and a missed step kills the chain.
    *
    * A user's row is emitted exactly once, when the watermark passes
    * `anchor + window`: past that point no event that could enter the
    * chain (ts ≤ anchor + window) or lower the anchor (ts < anchor) can
    * still arrive — it would be late and dropped — so the emitted row
    * equals `Events.funnel` on a batch replay of the same in-horizon
    * input (spec-pinned, stragglers included).
    *
    * State: the in-horizon step-type events, PRUNED to the anchor plus
    * the events inside its window (with no anchor yet, to events the
    * watermark hasn't invalidated — a future anchor is ≥ the watermark,
    * so older events can never chain). After emission a tombstone
    * remembers the row went out (an O(1)-per-user floor, exactly like
    * sessionization's counter — batch emits one row per user ever);
    * `emittedRetentionSeconds` TTLs it, after which a returning user
    * would start a NEW funnel — the standard TTL tradeoff. The default
    * is a finite 7 days so a long-running query's state stays bounded
    * by its active-user window; pass `None` to opt in EXPLICITLY to
    * keep tombstones forever (exact once-per-user-ever semantics, state
    * grows with every user ever seen). Non-step event types are
    * filtered out before the shuffle. */
  def funnelStream(events: Dataset[FunnelEvent], steps: Seq[String],
                   windowSeconds: Long,
                   emittedRetentionSeconds: Option[Long] =
                     Some(7L * 24 * 3600)): Dataset[FunnelOut] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    val windowMicros = windowSeconds * 1000000L
    val stepSet = steps.toSet

    events.filter(e => stepSet.contains(e.event_type))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[FunnelEvent],
         state: GroupState[FunnelState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val wmMicros = wmMs * 1000L
          val prior = state.getOption.getOrElse(FunnelState(false, Vector.empty))
          if (prior.emitted) {
            // tombstone: the row is out; swallow stragglers. A firing
            // timer here can only be the retention timer: Spark CLEARS a
            // pending timeout on every function invocation (empirically
            // pinned — a data visit that doesn't re-set the timer kills
            // it), so the provisional window timer cannot leak past a
            // data-path emission and evict the tombstone early. The
            // one-row-per-user invariant is spec-pinned on that sequence.
            if (state.hasTimedOut) state.remove()
            else emittedRetentionSeconds.foreach(r =>
              state.setTimeoutTimestamp(wmMs + r * 1000 + 1))
            Iterator.empty
          } else {
            val merged = prior.buf ++ rows
              .map(e => FunnelEntry(micros(e.ts), e.event_type))
              .filter(_.tsMicros >= wmMicros) // standard late-data drop
            val headTs = merged.collect {
              case e if e.eventType == steps.head => e.tsMicros
            }
            if (headTs.isEmpty) {
              // no anchor yet: a future anchor is ≥ wm, so only events the
              // watermark hasn't passed can ever chain after it
              val kept = merged.filter(_.tsMicros >= wmMicros)
              if (kept.nonEmpty) {
                state.update(FunnelState(false, kept))
                // when the watermark passes the newest buffered event the
                // whole buffer is unchainable — wake to self-clean
                state.setTimeoutTimestamp(math.max(
                  kept.map(_.tsMicros).max / 1000 + 1, wmMs + 1))
              } else if (state.exists) state.remove()
              Iterator.empty
            } else {
              val anchor = headTs.min
              if (wmMicros > anchor + windowMicros) {
                // final: no arrival can lower the anchor or enter the window
                var tPrev = anchor
                var n = 1
                var dead = false
                steps.drop(1).foreach { st =>
                  if (!dead) {
                    val cand = merged.collect {
                      case e if e.eventType == st && e.tsMicros > tPrev &&
                        e.tsMicros <= anchor + windowMicros => e.tsMicros
                    }
                    if (cand.isEmpty) dead = true
                    else { tPrev = cand.min; n += 1 }
                  }
                }
                state.update(FunnelState(true, Vector.empty))
                emittedRetentionSeconds.foreach(r =>
                  state.setTimeoutTimestamp(wmMs + r * 1000 + 1))
                Iterator.single(FunnelOut(userId, n, n == steps.length))
              } else {
                // provisional: keep the anchor + its window, PLUS anything
                // the watermark hasn't passed — a head straggler with
                // ts ∈ [wm, anchor) can still LOWER the anchor, and its
                // chain needs events below the current one. Events below
                // both the watermark and the anchor can never chain again.
                val kept = merged.filter(e =>
                  (e.eventType == steps.head && e.tsMicros == anchor) ||
                    (e.tsMicros > anchor &&
                      e.tsMicros <= anchor + windowMicros) ||
                    e.tsMicros >= wmMicros)
                state.update(FunnelState(false, kept))
                state.setTimeoutTimestamp(math.max(
                  (anchor + windowMicros) / 1000 + 1, wmMs + 1))
                Iterator.empty
              }
            }
          }
      }
  }

  /** Input/output/state rows for streaming sessionization. */
  case class SessionEvent(user_id: Long, event_id: Long, ts: Timestamp)
  case class SessionOut(user_id: Long, session_index: Long, n_events: Long,
                        first_event_id: Long, last_event_id: Long)
  case class BufEvent(tsMicros: Long, eventId: Long)
  case class ChronoState(nextIndex: Long, buf: Seq[BufEvent])

  /** Streaming gap sessionization — the `flatMapGroupsWithState` form of
    * `Events.sessionize`, with CHRONOLOGICAL session numbering: on any
    * input whose events arrive within the watermark horizon, the emitted
    * rows equal `Events.sessionize` on the same batch (asserted in
    * `StreamingSpec`), stragglers and all.
    *
    * How: per user the state buffers the not-yet-closable events (those
    * within the watermark horizon). Each invocation sorts the buffer by
    * (ts, event_id), splits it into gap-sessions exactly like the batch
    * operator, and emits the maximal PREFIX of sessions that are final —
    * a session is final iff `lastTs + gap < watermark`, because any event
    * that could still join it (ts ≤ lastTs + gap) or reorder an earlier
    * one is already older than the watermark and therefore dropped. A
    * persistent per-user counter numbers sessions in emission ( =
    * chronological) order.
    *
    * The event BUFFER is bounded by the watermark horizon per key (the
    * price of chronological renumbering — the old emit-on-arrival form
    * kept O(1) state but could number a straggler's session out of
    * order); between bursts it shrinks to just the session COUNTER,
    * which by default lives forever (exact batch-replay numbering over
    * the whole stream implies remembering how many sessions each user
    * had). With unbounded user cardinality set `idleRetentionSeconds`:
    * a user idle that long past the watermark is evicted, and a later
    * event restarts their numbering at 1 — the standard TTL tradeoff.
    * Incoming rows older than the watermark are dropped here explicitly,
    * so the semantics don't depend on which Spark version filters late
    * rows upstream. */
  def sessionizeStream(events: Dataset[SessionEvent],
                       gapSeconds: Long,
                       idleRetentionSeconds: Option[Long] = None): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMicros = gapSeconds * 1000000L

    // chain rule identical to the batch operator: a new session starts
    // when the gap to the PREVIOUS event (chronological order) exceeds gap
    def sessionsOf(buf: Seq[BufEvent]): Seq[Seq[BufEvent]] = {
      val out = Seq.newBuilder[Seq[BufEvent]]
      var cur = List.empty[BufEvent] // reversed
      var prevTs = Long.MinValue
      buf.foreach { e =>
        if (cur.nonEmpty && e.tsMicros - prevTs > gapMicros) {
          out += cur.reverse; cur = Nil
        }
        cur = e :: cur
        prevTs = e.tsMicros
      }
      if (cur.nonEmpty) out += cur.reverse
      out.result()
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ChronoState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent],
         state: GroupState[ChronoState]) =>
          val prior = state.getOption.getOrElse(ChronoState(1L, Vector.empty))
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val merged = (prior.buf ++ rows
              .map(e => BufEvent(micros(e.ts), e.event_id))
              .filter(_.tsMicros >= wmMicros)) // standard late-data drop
            .sortBy(e => (e.tsMicros, e.eventId))
          val (closed, open) = sessionsOf(merged)
            .span(s => s.last.tsMicros + gapMicros < wmMicros)
          val outs = closed.zipWithIndex.map { case (s, i) =>
            SessionOut(userId, prior.nextIndex + i, s.size,
              s.map(_.eventId).min, s.map(_.eventId).max)
          }
          // the counter must outlive the buffer: a later session continues
          // the numbering, exactly like a batch replay over full history
          val next = ChronoState(prior.nextIndex + closed.size, open.flatten)
          if (open.nonEmpty) {
            state.update(next)
            // wake when the watermark can close the earliest open session;
            // must be strictly past both that close-point and the current
            // watermark (floor division would otherwise wake 1ms short)
            val closeAtMs = (open.head.last.tsMicros + gapMicros) / 1000 + 1
            state.setTimeoutTimestamp(
              math.max(closeAtMs, state.getCurrentWatermarkMs() + 1))
          } else if (state.hasTimedOut && merged.isEmpty &&
              idleRetentionSeconds.isDefined) {
            // the retention timer fired with nothing buffered since:
            // evict the counter (numbering restarts if the user returns)
            state.remove()
          } else if (closed.nonEmpty) {
            // sessions just closed and the buffer drained — retain the
            // counter and, with a TTL configured, start the idle clock
            state.update(next)
            idleRetentionSeconds.foreach(r => state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs() + r * 1000 + 1))
          }
          // remaining case (nothing open, nothing closed): an all-late
          // batch. Existing idle state is left untouched so late noise
          // can't postpone a pending retention eviction, and no state is
          // created for a user whose only data was discarded
          outs.iterator
      }
  }

  case class DriftEvent(ts: Timestamp, category: String)
  case class DriftOut(window_start: Timestamp, n_events: Long,
                      n_categories: Long, kl_div: Double)
  case class DriftState(counts: Map[String, Long])

  /** Live categorical drift monitor — the streaming form of
    * `Stats.klDivergence` evaluated per tumbling event-time window:
    * each closed window emits ONE row scoring its category mix (domain,
    * language, event type) against a fixed reference distribution —
    * the mix-shift alarm that pages before a bad crawl batch reaches
    * the training mix. Append-mode: a window's row emits exactly once,
    * when the watermark passes its end (event-time timeout wakes
    * windows that stop receiving data).
    *
    * Parity: the emitted KL replicates the batch operator digit-for-
    * digit — same union-of-observed-categories add-k smoothing, same
    * round-9 decimal term sum, same round-6 output (BigDecimal
    * addition is exact, so arrival order is irrelevant). Every row
    * inside the watermark horizon counts, in any arrival order;
    * sub-watermark stragglers are dropped (the engine filters them
    * upstream of stateful operators, and the guard here keeps the
    * once-only contract even if a version delivers them).
    *
    * Scale shape: state is one bounded category→count map per OPEN
    * window (category spaces are small by definition — that's what
    * makes KL the right statistic); the reference collapses to counts
    * ONCE at stream start and rides in the closure, the explicitly
    * bounded broadcast-dim convention.
    *
    * Contract: uses EventTimeTimeout, so the CALLER applies
    * `withWatermark` on the event-time column upstream — without it
    * the query fails at analysis with an AnalysisException. */
  def klDriftStream(events: Dataset[DriftEvent], reference: DataFrame,
                    refCatCol: String = "category",
                    windowSeconds: Long = 3600L,
                    smoothK: Double = 0.5): Dataset[DriftOut] = {
    require(windowSeconds > 0, "windowSeconds must be positive")
    require(smoothK > 0, "smoothK must be positive")
    import events.sparkSession.implicits._
    val refCounts: Map[String, Long] = reference
      .select(col(refCatCol).cast("string").as("c")).na.drop()
      .groupBy(col("c")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val refTotal = refCounts.values.sum
    require(refTotal > 0, "klDriftStream needs a non-empty reference")
    val winMicros = windowSeconds * 1000000L

    def d9(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def klOf(win: Long, counts: Map[String, Long]): DriftOut = {
      val cats = counts.keySet ++ refCounts.keySet
      val nCat = cats.size
      val totA = counts.values.sum
      val sum = cats.toSeq.map { c =>
        val p = (counts.getOrElse(c, 0L) + smoothK) /
          (totA + smoothK * nCat)
        val q = (refCounts.getOrElse(c, 0L) + smoothK) /
          (refTotal + smoothK * nCat)
        d9(p * math.log(p / q))
      }.foldLeft(BigDecimal(0))(_ + _)
      val t = new Timestamp(win * winMicros / 1000)
      t.setNanos((win * winMicros % 1000000L).toInt * 1000)
      DriftOut(t, totA, nCat.toLong,
        sum.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }

    // floorDiv: a pre-epoch timestamp must not round toward zero
    events.groupByKey(e => java.lang.Math.floorDiv(micros(e.ts), winMicros))
      .flatMapGroupsWithState[DriftState, DriftOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (win: Long, rows: Iterator[DriftEvent],
         state: GroupState[DriftState]) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val winEnd = (win + 1) * winMicros
          // a window whose end is below the watermark has already
          // emitted (or never will consistently): drop its stragglers
          // so the once-only contract holds
          val merged =
            if (winEnd <= wmMicros && state.getOption.isEmpty) Map.empty[String, Long]
            else rows.foldLeft(
              state.getOption.getOrElse(DriftState(Map.empty)).counts) {
              (m, e) => m.updated(e.category,
                m.getOrElse(e.category, 0L) + 1L)
            }
          if (merged.isEmpty) Iterator.empty
          else if (wmMicros >= winEnd) {
            state.remove()
            Iterator.single(klOf(win, merged))
          } else {
            state.update(DriftState(merged))
            state.setTimeoutTimestamp(
              math.max(winEnd / 1000 + 1,
                state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  case class TrendOut(window_start: Timestamp, rank: Int, token: String,
                      cnt: Long)
  case class TrendState(counts: Map[String, Long])

  /** Per-window trending tokens — the "what is the crawl suddenly full
    * of THIS hour" monitor: each closed tumbling window emits its top-k
    * tokens by frequency, in append mode, exactly once when the
    * watermark passes the window end (the klDriftStream
    * window-lifecycle machinery). The complement of
    * `TextAnalysis.heavyHitterTokens` run on a stream in complete mode,
    * which tracks RUNNING totals forever:
    * running totals never surface a burst that is small against
    * history, per-window ranking exists for exactly that.
    *
    * State per OPEN window is a Misra-Gries summary bounded by
    * `capacity` — vocabulary-independent, the property that makes a
    * per-window token counter survivable at crawl scale. In the exact
    * regime (capacity ≥ the window's distinct tokens) the summary IS
    * the true count map, arrival-order independent, and the emitted
    * ranking equals the batch per-window top-k digit-for-digit
    * (parity-spec'd); under-capacity it degrades to the standard MG
    * frequent-items guarantee (no token with true count > n/capacity
    * is lost; kept counts undercount by ≤ the decrement total).
    * Output rows: (window_start, rank, token, cnt), rank by (count
    * desc, token asc).
    *
    * Contract: uses EventTimeTimeout, so the CALLER applies
    * `withWatermark` on the event-time column upstream — without it
    * the query fails at analysis with an AnalysisException. */
  def trendingTokensStream(docs: Dataset[StreamDoc],
                           windowSeconds: Long = 3600L,
                           capacity: Int = 4096,
                           topK: Int = 10): Dataset[TrendOut] = {
    require(windowSeconds > 0, "windowSeconds must be positive")
    require(capacity >= 1 && topK >= 1, "capacity and topK must be >= 1")
    import docs.sparkSession.implicits._
    val winMicros = windowSeconds * 1000000L

    def mgAdd(m: Map[String, Long], t: String): Map[String, Long] =
      if (m.contains(t)) m.updated(t, m(t) + 1L)
      else if (m.size < capacity) m.updated(t, 1L)
      else m.flatMap { case (k, v) =>
        if (v > 1L) Some(k -> (v - 1L)) else None
      }

    docs.groupByKey(d => java.lang.Math.floorDiv(micros(d.ts), winMicros))
      .flatMapGroupsWithState[TrendState, TrendOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (win: Long, rows: Iterator[StreamDoc],
         state: GroupState[TrendState]) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val winEnd = (win + 1) * winMicros
          val merged =
            if (winEnd <= wmMicros && state.getOption.isEmpty)
              Map.empty[String, Long] // straggler for an emitted window
            else rows.foldLeft(
              state.getOption.getOrElse(TrendState(Map.empty)).counts) {
              (m, d) => d.text.split(" ").foldLeft(m)(mgAdd)
            }
          if (merged.isEmpty) Iterator.empty
          else if (wmMicros >= winEnd) {
            state.remove()
            val t = new Timestamp(win * winMicros / 1000)
            t.setNanos((win * winMicros % 1000000L).toInt * 1000)
            merged.toSeq.sortBy { case (tok, c) => (-c, tok) }
              .take(topK).zipWithIndex.map { case ((tok, c), i) =>
                TrendOut(t, i + 1, tok, c)
              }.iterator
          } else {
            state.update(TrendState(merged))
            state.setTimeoutTimestamp(
              math.max(winEnd / 1000 + 1,
                state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  case class Scd2Event(user_id: Long, event_id: Long, ts: Timestamp,
                       value: String)
  case class Scd2Out(user_id: Long, value: String,
                     valid_from: Timestamp, valid_to: Timestamp)
  case class Scd2Buf(tsMicros: Long, tie: Long, value: String)
  case class Scd2State(buf: Seq[Scd2Buf])

  /** Streaming SCD2 — the Structured Streaming form of `Events.scd2`:
    * each key's arriving change events collapse into runs and closed
    * validity intervals [valid_from, valid_to) emit in append mode.
    * Only CLOSED intervals emit (a closed row is a fact no future
    * event can change — appendable to the history table as-is); the
    * open "current" interval lives in state until a different value
    * closes it, because an emitted current row would need retraction
    * the moment the value changes — exactly what append sinks can't do.
    *
    * Finality rule: run i closes at run i+1's start, and that boundary
    * is final once the boundary event's time is below the watermark —
    * any event that could land before it (and re-split run i) would be
    * older than the watermark and is dropped on arrival (explicitly
    * here, the sessionizeStream late-data discipline). So emitted
    * intervals equal the batch operator's closed rows over every
    * sub-watermark prefix, for any arrival order (parity-spec'd with
    * out-of-order chunks). State per key = the events of runs not yet
    * closed — bounded by the watermark horizon (pending boundaries
    * finalize as the watermark passes them) plus the open run's
    * events, which compact to nothing between value changes only if
    * values actually change; a never-changing hot key keeps its repeat
    * events buffered only until the watermark passes them — repeats
    * BELOW the open run's established sub-watermark prefix are
    * collapsed on every invocation.
    *
    * Contract: uses EventTimeTimeout, so the CALLER applies
    * `withWatermark` on the event-time column upstream — without it
    * the query fails at analysis with an AnalysisException. */
  def scd2Stream(events: Dataset[Scd2Event]): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    def toTs(m: Long): Timestamp = {
      val t = new Timestamp(m / 1000)
      t.setNanos((m % 1000000L).toInt * 1000)
      t
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Scd2Event],
         state: GroupState[Scd2State]) =>
          val prior = state.getOption.getOrElse(Scd2State(Vector.empty))
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val merged = (prior.buf ++ rows
              .map(e => Scd2Buf(micros(e.ts), e.event_id, e.value))
              .filter(_.tsMicros >= wmMicros))
            .sortBy(e => (e.tsMicros, e.tie))
          // consecutive-repeat collapse into runs (the batch lag() rule)
          val runs = merged.foldLeft(Vector.empty[Vector[Scd2Buf]]) {
            (acc, e) =>
              if (acc.nonEmpty && acc.last.head.value == e.value)
                acc.init :+ (acc.last :+ e)
              else acc :+ Vector(e)
          }
          // run i is final once run i+1's boundary event is sub-watermark
          val nClosed = (0 until math.max(runs.size - 1, 0))
            .takeWhile(i => runs(i + 1).head.tsMicros < wmMicros).size
          val outs = (0 until nClosed).map { i =>
            Scd2Out(userId, runs(i).head.value,
              toTs(runs(i).head.tsMicros), toTs(runs(i + 1).head.tsMicros))
          }
          val open = runs.drop(nClosed)
          // inside the open runs, sub-watermark repeats can never be
          // re-split — keep one representative so state doesn't grow on
          // a hot never-changing key
          val compacted = open.map { r =>
            val (settled, live) = r.partition(_.tsMicros < wmMicros)
            (settled.take(1) ++ live).toVector
          }
          if (compacted.nonEmpty) {
            state.update(Scd2State(compacted.flatten))
            // a group's function only runs again on new data or timeout:
            // if a pending boundary is waiting on the watermark, wake
            // just past it (strictly past the current watermark too —
            // the sessionizeStream floor-division guard)
            if (compacted.size > 1) {
              val wakeAtMs = compacted(1).head.tsMicros / 1000 + 1
              state.setTimeoutTimestamp(
                math.max(wakeAtMs, state.getCurrentWatermarkMs() + 1))
            }
          }
          // compacted empty ⟺ merged empty ⟺ no state existed and the
          // batch was all-late: nothing to store
          outs.iterator
      }
  }

  case class GapEvent(user_id: Long, event_id: Long, ts: Timestamp,
                      value: Double)
  case class GapOut(user_id: Long, period: Long, observed: Boolean,
                    v_ffill: Double, v_interp: Double)
  case class GapBuf(tsMicros: Long, eventId: Long, value: Double)
  case class GapState(anchorP: Option[Long], anchorV: Option[Double],
                      buf: Seq[GapBuf])

  /** Streaming time-series gap-fill — the Structured Streaming form of
    * `Events.gapFill`, batch-replay exact on every emitted row: when
    * the watermark finalizes a bucket (nothing that could still arrive
    * can land in it or reorder its last-event representative), the
    * rows BETWEEN the previous observed bucket and this one become
    * decidable — the gap rows' forward-fill anchors on the previous
    * representative and their interpolation target is this one — and
    * they emit together with this bucket's observed row.
    *
    * Rows past each user's latest observed bucket are not wrong, just
    * not yet decidable (the batch grid would extend once a later
    * observation arrives), so they stay unemitted — streamed output is
    * always the batch output over the finalized prefix. State per user
    * is the watermark-bounded pending buffer plus one (period, value)
    * anchor; `idleRetentionSeconds` evicts idle users' anchors, after
    * which a returning user starts a fresh grid (the TTL tradeoff).
    * Caller applies `withWatermark` upstream. */
  def gapFillStream(events: Dataset[GapEvent],
                    periodSeconds: Long = 21600L,
                    idleRetentionSeconds: Option[Long] = None): Dataset[GapOut] = {
    import events.sparkSession.implicits._
    require(periodSeconds >= 1, "periodSeconds must be >= 1")
    val periodMicros = periodSeconds * 1000000L
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    def round6(v: Double) =
      BigDecimal(v).setScale(6, HALF_UP).toDouble

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, GapOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[GapEvent],
         state: GroupState[GapState]) =>
          val prior = state.getOption
            .getOrElse(GapState(None, None, Vector.empty))
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val merged = (prior.buf ++ rows
              .map(e => GapBuf(micros(e.ts), e.event_id, e.value))
              .filter(_.tsMicros >= wmMicros))
            .sortBy(e => (e.tsMicros, e.eventId))
          // a bucket is final once the watermark passes its END; bucket
          // end is monotone in ts, so the finalized events are a prefix
          val (ready, pending) = merged.span(e =>
            (e.tsMicros / periodMicros + 1) * periodMicros <= wmMicros)
          var anchorP = prior.anchorP
          var anchorV = prior.anchorV
          val outs = Seq.newBuilder[GapOut]
          // per finalized bucket, the representative is the LAST event
          // (ts, then event_id) — same pick as the batch row_number
          ready.groupBy(_.tsMicros / periodMicros).toSeq.sortBy(_._1)
            .foreach { case (p, es) =>
              val rep = es.maxBy(e => (e.tsMicros, e.eventId))
              (anchorP, anchorV) match {
                case (Some(pp), Some(pv)) if p > pp =>
                  var g = pp + 1
                  while (g < p) {
                    // the batch interpolation arithmetic, verbatim
                    val interp = pv + (rep.value - pv) *
                      ((g - pp).toDouble / (p - pp).toDouble)
                    outs += GapOut(userId, g, observed = false, pv,
                      round6(interp))
                    g += 1
                  }
                case _ => ()
              }
              outs += GapOut(userId, p, observed = true, rep.value,
                round6(rep.value))
              anchorP = Some(p)
              anchorV = Some(rep.value)
            }
          val emitted = outs.result()
          if (pending.nonEmpty) {
            state.update(GapState(anchorP, anchorV, pending))
            val closeAtMs =
              ((pending.head.tsMicros / periodMicros + 1) * periodMicros)
                .max(wmMicros) / 1000 + 1
            state.setTimeoutTimestamp(
              math.max(closeAtMs, state.getCurrentWatermarkMs() + 1))
          } else if (state.hasTimedOut && merged.isEmpty &&
              idleRetentionSeconds.isDefined) {
            state.remove()
          } else if (emitted.nonEmpty) {
            state.update(GapState(anchorP, anchorV, Vector.empty))
            idleRetentionSeconds.foreach(r => state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs() + r * 1000 + 1))
          }
          emitted.iterator
      }
  }

  case class AnomEvent(user_id: Long, event_id: Long, ts: Timestamp,
                       value: Double)
  case class AnomOut(user_id: Long, event_id: Long, value: Double,
                     n_prior: Long, z_score: Double)
  case class AnomBuf(tsMicros: Long, eventId: Long, value: Double)
  case class AnomState(tail: Seq[AnomBuf], buf: Seq[AnomBuf])

  /** Streaming rolling z-score anomaly detection — the Structured
    * Streaming form of `Events.rollingAnomalies`, batch-replay exact:
    * each event is scored against the mean/variance of the user's
    * `nPrior` chronologically-previous events, in DECIMAL(18,2)-exact
    * arithmetic with the batch operator's double shape, so a streamed
    * corpus flags byte-identical rows to a batch pass.
    *
    * An event is scored only once the watermark passes it — nothing
    * that could still arrive may precede it and change its baseline
    * (the sessionizeStream buffering discipline; incoming rows older
    * than the watermark are dropped explicitly). State per user is the
    * watermark-bounded pending buffer plus a constant `nPrior`-element
    * tail of scored values; with unbounded user cardinality set
    * `idleRetentionSeconds` to evict idle users' tails — a returning
    * user then rebuilds their baseline from scratch, the standard TTL
    * tradeoff. Caller applies `withWatermark` upstream. */
  def rollingAnomaliesStream(events: Dataset[AnomEvent], nPrior: Int = 20,
                             minPrior: Int = 8, zThreshold: Double = 3.0,
                             idleRetentionSeconds: Option[Long] = None): Dataset[AnomOut] = {
    import events.sparkSession.implicits._
    require(nPrior >= 2 && minPrior >= 2 && minPrior <= nPrior,
      "need 2 <= minPrior <= nPrior")
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    def dec2(v: Double) = BigDecimal(v).setScale(2, HALF_UP)

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomState, AnomOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[AnomEvent],
         state: GroupState[AnomState]) =>
          val prior = state.getOption
            .getOrElse(AnomState(Vector.empty, Vector.empty))
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val merged = (prior.buf ++ rows
              .map(e => AnomBuf(micros(e.ts), e.event_id, e.value))
              .filter(_.tsMicros >= wmMicros))
            .sortBy(e => (e.tsMicros, e.eventId))
          // final once the watermark passes it: any event that could
          // precede it (and so change its priors) would now be late
          val (ready, pending) = merged.span(_.tsMicros < wmMicros)
          var tail = prior.tail
          val outs = Seq.newBuilder[AnomOut]
          ready.foreach { e =>
            val n = tail.size
            if (n >= minPrior) {
              // DECIMAL-exact sums, then the batch operator's exact
              // double expression shape on top of them
              val vds = tail.map(b => dec2(b.value))
              val s1 = vds.sum.toDouble
              val s2 = vds.map(x => x * x).sum.toDouble
              val mean = s1 / n
              val varr = (s2 - s1 * s1 / n) / (n - 1)
              if (varr > 1e-12) {
                val vd = dec2(e.value).toDouble
                val z = (vd - mean) / math.sqrt(varr)
                if (math.abs(z) > zThreshold)
                  outs += AnomOut(userId, e.eventId, vd, n,
                    BigDecimal(z).setScale(6, HALF_UP).toDouble)
              }
            }
            tail = (tail :+ e).takeRight(nPrior)
          }
          if (pending.nonEmpty) {
            state.update(AnomState(tail, pending))
            // wake once the watermark can release the earliest pending
            // event (strictly past it, and past the current watermark)
            val releaseAtMs = pending.head.tsMicros / 1000 + 1
            state.setTimeoutTimestamp(
              math.max(releaseAtMs, state.getCurrentWatermarkMs() + 1))
          } else if (state.hasTimedOut && merged.isEmpty &&
              idleRetentionSeconds.isDefined) {
            // retention timer fired with nothing buffered since: evict
            // the tail (the baseline rebuilds if the user returns)
            state.remove()
          } else if (ready.nonEmpty) {
            state.update(AnomState(tail, Vector.empty))
            idleRetentionSeconds.foreach(r => state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs() + r * 1000 + 1))
          }
          // all-late batch: leave any idle state untouched
          outs.result().iterator
      }
  }

  case class DecayedOut(user_id: Long, n_recent: Long,
                        decayed_value: java.lang.Double)
  case class DecayedState(top: Seq[AnomBuf])

  /** Streaming recency-weighted activity — the live form of
    * [[graft.operators.Events.decayedActivity]], whose trailing-window
    * contract was designed as EXACTLY this operator's state: per user,
    * only the `maxEvents` most recent (ts, id)-ordered events ever
    * matter, so the state is a constant-size top-k set and the score
    * is a pure function of it. That makes the operator
    * ARRIVAL-ORDER-INDEPENDENT — maintaining a top-k by event time
    * needs no watermark, no pending buffer, and no finality wait:
    * late events simply merge into the top-k (displacing or being
    * ignored), and the next emission is again the batch answer over
    * everything seen. Update mode: each trigger emits the current
    * score for users that received rows; the LAST row per user always
    * equals the batch operator over the full input (spec-pinned under
    * shuffled arrival). Same round-9 decimal lattice as batch —
    * power-of-two weights, DECIMAL sum, order-free.
    *
    * State per user: `maxEvents` (ts, id, value) triples, constant.
    * With unbounded user cardinality set `idleRetentionSeconds` to
    * evict idle users (a returning user rebuilds from scratch). */
  def decayedActivityStream(events: Dataset[AnomEvent], maxEvents: Int = 8,
                            decay: Double = 0.5,
                            idleRetentionSeconds: Option[Long] = None): Dataset[DecayedOut] = {
    import events.sparkSession.implicits._
    require(maxEvents >= 1, "maxEvents must be >= 1")
    require(decay > 0 && decay <= 1, "decay must be in (0, 1]")
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    // the TTL is the ONLY thing needing event time: without it no
    // watermark is required at all (the top-k state is order-free)
    val timeout = if (idleRetentionSeconds.isDefined)
      GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[DecayedState, DecayedOut](
        OutputMode.Update, timeout) {
        (userId: Long, rows: Iterator[AnomEvent],
         state: GroupState[DecayedState]) =>
          val prior = state.getOption.getOrElse(DecayedState(Vector.empty))
          val fresh = rows
            .map(e => AnomBuf(micros(e.ts), e.event_id, e.value)).toVector
          if (fresh.isEmpty) {
            // timeout firing: evict the idle user's state
            if (state.hasTimedOut) state.remove()
            Iterator.empty
          } else {
            // newest first, (ts, id) desc — k-th kept row has weight
            // decay^k, identical to the batch row_number rank
            val top = (prior.top ++ fresh)
              .sortBy(e => (-e.tsMicros, -e.eventId))
              .take(maxEvents)
            state.update(DecayedState(top))
            idleRetentionSeconds.foreach(r => state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs() + r * 1000 + 1))
            // batch parity on corrupt values: round() passes NaN/Inf
            // through and the decimal cast nulls them, so the batch sum
            // SKIPS non-finite terms (and is null when none survive) —
            // mirror that instead of letting BigDecimal throw
            val terms = top.zipWithIndex.flatMap { case (e, k) =>
              val x = e.value * math.pow(decay, k)
              if (java.lang.Double.isFinite(x))
                Some(BigDecimal(x).setScale(9, HALF_UP)) else None
            }
            val score: java.lang.Double =
              if (terms.isEmpty) null else terms.sum.toDouble
            Iterator.single(
              DecayedOut(userId, top.size.toLong, score))
          }
      }
  }

  case class PathOut(user_id: Long, path: String)
  case class PathState(tail: Seq[Scd2Buf], buf: Seq[Scd2Buf])

  /** Streaming k-step path emission — the instance-level form of
    * `Events.topPaths` (which then just counts and ranks): every
    * consecutive k-window of each user's (ts, event_id)-ordered event
    * sequence, emitted exactly once when it becomes final. The
    * [[transitionPairsStream]] endpoint-finality rule generalizes to
    * k: a window is final once its LAST event's time is below the
    * watermark — any event that could still land INSIDE the window
    * would be older than the watermark and is dropped on arrival — so
    * the emitted multiset equals the batch operator's path instances
    * over every sub-watermark prefix, for any arrival order
    * (parity-spec'd with reversed-arrival chunks; count+rank the
    * output to get the batch top-N).
    *
    * Windows containing a null event type are SUPPRESSED but still
    * consume positions — exactly the batch operator's
    * all-steps-not-null filter over lead() windows.
    *
    * State per user: the last k−1 finalized events (the next window's
    * prefix) plus the watermark-bounded pending buffer. Caller applies
    * `withWatermark` upstream (EventTimeTimeout contract). */
  def topPathsStream(events: Dataset[Scd2Event],
                     k: Int = 3): Dataset[PathOut] = {
    require(k >= 2 && k <= 5, "k must be in [2, 5]")
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[PathState, PathOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Scd2Event],
         state: GroupState[PathState]) =>
          val prior = state.getOption
            .getOrElse(PathState(Vector.empty, Vector.empty))
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val merged = (prior.buf ++ rows
              .map(e => Scd2Buf(micros(e.ts), e.event_id, e.value))
              .filter(_.tsMicros >= wmMicros))
            .sortBy(e => (e.tsMicros, e.tie))
          val (ready, pending) = merged.span(_.tsMicros < wmMicros)
          val chain = prior.tail.toVector ++ ready
          // every k-window ends in `ready` (the retained tail is k-1
          // long), so each is emitted exactly once
          val outs = chain.sliding(k).filter(_.size == k)
            .filter(_.forall(_.value != null))
            .map(w => PathOut(userId, w.map(_.value).mkString(">")))
            .toVector
          val tail = chain.takeRight(k - 1)
          if (pending.nonEmpty) {
            state.update(PathState(tail, pending.toVector))
            val releaseAtMs = pending.head.tsMicros / 1000 + 1
            state.setTimeoutTimestamp(
              math.max(releaseAtMs, state.getCurrentWatermarkMs() + 1))
          } else if (tail != prior.tail || ready.nonEmpty) {
            state.update(PathState(tail, Vector.empty))
          }
          outs.iterator
      }
  }

  case class TransitionPair(user_id: Long, src_type: String,
                            dst_type: String)
  case class TransState(lastFinal: Option[Scd2Buf], buf: Seq[Scd2Buf])

  /** Arrival-order first-seen flags: every row rides through with a
    * boolean `flagCol` — true iff the row is the FIRST occurrence of
    * its key (by batch arrival order, tie-broken WITHIN a micro-batch
    * by `orderCols` so the flag is deterministic — Spark's own
    * `dropDuplicatesWithinWatermark` keeps an ARBITRARY first in a
    * tie), false for every later occurrence while the key's state
    * lives. State is one boolean per key and expires once the
    * watermark passes the key's newest occurrence plus
    * `retentionSeconds` — the `dropDuplicatesWithinWatermark` bounded-
    * state contract (a key re-arriving after expiry counts as first
    * again). Input must carry a watermark on `tsCol`.
    *
    * This is the SPLITTING form of streaming dedup: `filter(flag)`
    * is drop-duplicates, `filter(!flag)` is the duplicates stream —
    * so composing with the gated contract machinery
    * (`expect_condition` on the flag + `quarantine_path`) quarantines
    * duplicate rows instead of silently dropping them, the streaming
    * complement of batch `expect_unique`'s store-failures mode
    * (which batch-quarantines ALL copies of a duplicated key; a
    * stream can only flag the copies that arrive after the first —
    * the honest watermark-bounded semantics).
    *
    * Scale design: state is ONE boolean + one timer per live key —
    * strictly less than dropDuplicatesWithinWatermark's stored row —
    * and each micro-batch shuffles only its own rows by key.
    *
    * Key/order hygiene: key values stringify (NULL keys pool under
    * the literal "null"); `orderCols` values must be non-null and
    * Comparable (numeric/string/timestamp — a null order value
    * fails the sort loudly). */
  def firstSeenFlags(df: DataFrame, keyCols: Seq[String],
                     tsCol: String, orderCols: Seq[String],
                     retentionSeconds: Long = 0L,
                     flagCol: String = "is_first"): DataFrame = {
    val schema = df.schema
    // schema.add would yield a DUPLICATE column on collision, where
    // the batch twin's withColumn REPLACES — reject loudly so batch
    // and stream can never silently diverge on a colliding flag name
    require(!df.columns.contains(flagCol),
      s"firstSeenFlags: flag column '$flagCol' already exists in the " +
        "input — pick a fresh name (batch withColumn would replace " +
        "it; the stream would emit a duplicate column)")
    val keyIdx = keyCols.map(schema.fieldIndex).toArray
    val tsIdx = schema.fieldIndex(tsCol)
    val ordIdx = orderCols.map(schema.fieldIndex).toArray
    val outSchema = schema.add(flagCol,
      org.apache.spark.sql.types.BooleanType, nullable = false)
    implicit val outEnc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    implicit val stEnc: org.apache.spark.sql.Encoder[Boolean] =
      org.apache.spark.sql.Encoders.scalaBoolean
    implicit val kEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    def cmp(a: Row, b: Row): Boolean = {
      var i = 0
      while (i < ordIdx.length) {
        val c = a.get(ordIdx(i)).asInstanceOf[Comparable[AnyRef]]
          .compareTo(b.get(ordIdx(i)).asInstanceOf[AnyRef])
        if (c != 0) return c < 0
        i += 1
      }
      false
    }
    df.groupByKey((r: Row) =>
        keyIdx.map(i => String.valueOf(r.get(i))).mkString("\u0000"))
      .flatMapGroupsWithState[Boolean, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toVector.sortWith(cmp)
            val seen = state.exists && state.get
            state.update(true)
            val maxTsMs = sorted.iterator.map(r => r.get(tsIdx) match {
              case t: java.sql.Timestamp => t.getTime
              case t: java.time.Instant => t.toEpochMilli
              case t: java.time.LocalDateTime =>
                t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
              case other => throw new IllegalArgumentException(
                s"firstSeenFlags: unsupported event-time value $other")
            }).max
            state.setTimeoutTimestamp(math.max(
              maxTsMs + retentionSeconds * 1000L + 1,
              state.getCurrentWatermarkMs() + 1))
            sorted.iterator.zipWithIndex.map { case (r, i) =>
              Row.fromSeq(r.toSeq :+ (i == 0 && !seen))
            }
          }
      }
  }

  /** Streaming first-order transition pairs — the live feed of
    * [[graft.operators.Events.transitionMatrix]]: for each user, emit
    * (src_type, dst_type) the moment BOTH endpoints are finalized by
    * the watermark. A pair is frozen only when no still-admissible
    * late event could land between its endpoints, so this needs the
    * sessionizeStream buffering discipline (unlike
    * [[decayedActivityStream]], whose top-k state is order-free):
    * incoming rows merge into a per-user pending buffer sorted by
    * (ts, id); rows below the watermark release in order, each pairing
    * with the previously released event; the last released event is
    * retained as the next pair's source. Append mode — downstream a
    * plain streaming `groupBy(src, dst).count()` (or the batch
    * normalization over a sink table) rebuilds the matrix; the
    * finalized pair multiset is spec-pinned equal to the batch
    * operator's pairs under shuffled multi-batch arrival.
    *
    * State per user: one retained event plus the watermark-bounded
    * pending buffer. With unbounded user cardinality set
    * `idleRetentionSeconds` to evict idle users' retained event — a
    * returning user's first event then starts a fresh chain (one
    * boundary pair lost; the sessionize-counter TTL tradeoff).
    * Caller applies `withWatermark` upstream. */
  def transitionPairsStream(events: Dataset[Scd2Event],
                            idleRetentionSeconds: Option[Long] = None): Dataset[TransitionPair] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransitionPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Scd2Event],
         state: GroupState[TransState]) =>
          val prior = state.getOption.getOrElse(TransState(None, Vector.empty))
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          // drop rows already below the watermark: they can no longer
          // be sequenced truthfully (standard late-data discard)
          val merged = (prior.buf ++ rows
              .map(e => Scd2Buf(micros(e.ts), e.event_id, e.value))
              .filter(_.tsMicros >= wmMicros))
            .sortBy(e => (e.tsMicros, e.tie))
          val (ready, pending) = merged.span(_.tsMicros < wmMicros)
          val chain = prior.lastFinal.toVector ++ ready
          val outs = chain.iterator.zip(chain.iterator.drop(1))
            .map { case (a, b) => TransitionPair(userId, a.value, b.value) }
            .toVector
          val lastFinal = chain.lastOption
          if (pending.nonEmpty) {
            state.update(TransState(lastFinal, pending))
            val releaseAtMs = pending.head.tsMicros / 1000 + 1
            state.setTimeoutTimestamp(
              math.max(releaseAtMs, state.getCurrentWatermarkMs() + 1))
          } else if (state.hasTimedOut && merged.isEmpty &&
              idleRetentionSeconds.isDefined) {
            // retention timer fired with nothing new: evict the idle
            // user's retained chain end
            state.remove()
          } else if (lastFinal != prior.lastFinal || ready.nonEmpty) {
            state.update(TransState(lastFinal, Vector.empty))
            idleRetentionSeconds.foreach(r => state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs() + r * 1000 + 1))
          }
          outs.iterator
      }
  }
}
