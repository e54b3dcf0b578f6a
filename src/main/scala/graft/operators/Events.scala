package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints.TruncateOps

/** Event-stream analytics that run identically on batch DataFrames and
  * (where noted) Structured Streaming inputs. */
object Events {

  /** Tumbling-window counts/sums per event type. Streaming-safe: the same
    * expression works under `readStream` with a watermark on `tsCol`
    * (see graft.streaming.StreamOps). */
  def windowedStats(events: DataFrame, tsCol: String = "ts",
                    windowLength: String = "1 hour"): DataFrame =
    events.groupBy(
        window(col(tsCol), windowLength).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Cohort retention: users grouped by their first-active period (the
    * cohort), counted as retained in each later period they act in —
    * the standard product/engagement table, and in corpus terms the
    * contributor-survival curve of a crawl source. Period index =
    * floor(epoch_micros / periodSeconds·10⁶) — pure integer division,
    * no float boundary for engines to disagree on.
    *
    * Scale shape: one distinct over (user, period), then everything is
    * keyed by user or by cohort — the user-keyed groupBy and the join
    * back share partitioning; no window, no driver scalars. Output:
    * (cohort, period_offset, n_active, cohort_size, retention), one
    * row per cohort × active offset (offset 0 is the cohort itself,
    * retention 1 by construction). */
  def retentionCohorts(events: DataFrame, userCol: String = "user_id",
                       tsCol: String = "ts",
                       periodSeconds: Long = 7L * 86400L): DataFrame = {
    require(periodSeconds >= 1, "periodSeconds must be >= 1")
    val act = events.select(col(userCol).as("u"),
        expr(s"unix_micros($tsCol) div ${periodSeconds * 1000000L}")
          .as("p"))
      .distinct()
      .truncateLineage(false)
    val firstSeen = act.groupBy(col("u")).agg(min(col("p")).as("cohort"))
    val sizes = firstSeen.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    act.join(firstSeen, Seq("u"))
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("period_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort"))
      .select(col("cohort"), col("period_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") /
          col("cohort_size").cast("double"), 6).as("retention"))
  }

  /** Anchored funnel analysis: how far each user progresses through an
    * ordered sequence of event types, anchored at their FIRST
    * `steps(0)` event. Step k completes with the user's earliest
    * `steps(k)` event STRICTLY after step k−1's completion and within
    * `windowSeconds` of the anchor (first-touch attribution — the
    * deterministic product-analytics convention; a sliding-anchor
    * variant would need per-candidate chains). Progress stops at the
    * first missed step.
    *
    * Output: one row per user who entered the funnel:
    * (user, n_steps, completed). Cost: one (join + per-user min)
    * stage per step — each a single shuffle keyed by user; the event
    * scan is filtered to one type per stage so predicate pushdown
    * keeps every stage narrow. */
  def funnel(events: DataFrame, steps: Seq[String], windowSeconds: Long,
             userCol: String = "user_id", tsCol: String = "ts",
             typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    var frame = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__anchor"))
      .withColumn("__t_prev", col("__anchor"))
      .withColumn("n_steps", lit(1))
    steps.drop(1).foreach { st =>
      val nxt = events.filter(col(typeCol) === st)
        .select(col(userCol), col(tsCol).as("__ts"))
      // __t_prev is null once a step was missed: the chain stays dead
      frame = frame.join(nxt, Seq(userCol), "left")
        .withColumn("__ok", col("__t_prev").isNotNull &&
          col("__ts") > col("__t_prev") &&
          col("__ts") <= col("__anchor") +
            expr(s"INTERVAL $windowSeconds SECONDS"))
        .groupBy(col(userCol), col("__anchor"), col("__t_prev"),
          col("n_steps"))
        .agg(min(when(col("__ok"), col("__ts"))).as("__t_next"))
        .withColumn("n_steps",
          col("n_steps") + when(col("__t_next").isNotNull, 1).otherwise(0))
        .withColumn("__t_prev", col("__t_next"))
        .drop("__t_next")
    }
    frame.select(col(userCol), col("n_steps"),
      (col("n_steps") === steps.length).as("completed"))
  }

  /** Time-series gap-fill: resample each user's event stream onto a
    * regular `periodSeconds` grid and fill the holes two ways —
    * forward-fill (the last observed value carries) and linear
    * interpolation between the surrounding observations. The standard
    * prep step before any per-entity rolling statistic or model
    * feature over irregular telemetry.
    *
    * Per (user, period) the representative value is the LAST event in
    * the bucket (ts, then event_id, as the tie-break) — a
    * deterministic pick any engine reproduces. The grid spans each
    * user's own [min, max] period, so no user pays for another's
    * history.
    *
    * Scale shape: one row_number window keyed by (user, period) picks
    * bucket representatives; the grid is a per-user `sequence` explode
    * (rows ∝ user's own span — no global range); the fills are two
    * frame-bounded windows keyed by user. Everything shuffles on the
    * user key once and stays there; no global window, no driver state.
    * Output: (user, period, observed, v_ffill, v_interp). */
  def gapFill(events: DataFrame, periodSeconds: Long = 21600L,
              userCol: String = "user_id", tsCol: String = "ts",
              valueCol: String = "value",
              idCol: String = "event_id"): DataFrame = {
    require(periodSeconds >= 1, "periodSeconds must be >= 1")
    val micros = periodSeconds * 1000000L
    val byBucket = Window.partitionBy(col("u"), col("p"))
      .orderBy(col(tsCol).desc, col(idCol).desc)
    val obs = events.select(col(userCol).as("u"),
        expr(s"unix_micros($tsCol) div $micros").as("p"),
        col(tsCol), col(idCol), col(valueCol).as("v"))
      .withColumn("__rn", row_number().over(byBucket))
      .filter(col("__rn") === 1)
      .select(col("u"), col("p"), col("v"))
      // consumed twice (grid bounds + the fill join): materialize the
      // skinny (u, p, v) frame once instead of re-running the scan +
      // bucket window per consumer
      .truncateLineage(false)
    val grid = obs.groupBy(col("u"))
      .agg(min(col("p")).as("pmin"), max(col("p")).as("pmax"))
      .select(col("u"), explode(sequence(col("pmin"), col("pmax"))).as("p"))
    val byU = Window.partitionBy(col("u")).orderBy(col("p"))
    val back = byU.rowsBetween(Window.unboundedPreceding, 0)
    val ahead = byU.rowsBetween(1, Window.unboundedFollowing)
    val filled = grid.join(obs, Seq("u", "p"), "left")
      .withColumn("v_ffill", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("__pp",
        last(when(col("v").isNotNull, col("p")), ignoreNulls = true)
          .over(back))
      .withColumn("__nv", first(col("v"), ignoreNulls = true).over(ahead))
      .withColumn("__np",
        first(when(col("v").isNotNull, col("p")), ignoreNulls = true)
          .over(ahead))
    // interpolate only strictly between observations; the tail (no next
    // observation) stays at the forward-fill, the head before the first
    // observation is empty by grid construction
    filled.select(col("u").as(userCol), col("p").as("period"),
      col("v").isNotNull.as("observed"), col("v_ffill"),
      round(when(col("v").isNotNull, col("v"))
        .when(col("__pp").isNotNull && col("__np").isNotNull,
          col("v_ffill") + (col("__nv") - col("v_ffill")) *
            ((col("p") - col("__pp")).cast("double") /
              (col("__np") - col("__pp")).cast("double")))
        .otherwise(col("v_ffill")), 6).as("v_interp"))
  }

  /** Rolling z-score anomaly detection: flag events whose value sits
    * more than `zThreshold` standard deviations from the mean of the
    * user's previous `nPrior` events — the classic per-entity telemetry
    * outlier gate (spend spikes, error bursts, sensor glitches).
    *
    * The baseline window is strictly PRIOR rows (`nPrior PRECEDING ..
    * 1 PRECEDING`), so an anomaly never contaminates its own baseline,
    * and needs at least `minPrior` observations before it votes.
    * Sums run over `DECIMAL(18,2)` casts of the value so the window
    * aggregate is exact regardless of evaluation order — the mean /
    * variance / z arithmetic then happens once, in double, from those
    * exact sums, making the result bit-replicable externally. The keep
    * decision compares the UNROUNDED |z|; the reported z is rounded
    * for display.
    *
    * Scale shape: one shuffle keyed by user, then a single
    * frame-bounded running window — no self-join, no global state;
    * variance via the sum-of-squares identity keeps it one pass. */
  def rollingAnomalies(events: DataFrame, nPrior: Int = 20,
                       minPrior: Int = 8, zThreshold: Double = 3.0,
                       userCol: String = "user_id", tsCol: String = "ts",
                       valueCol: String = "value",
                       idCol: String = "event_id"): DataFrame = {
    require(nPrior >= 2 && minPrior >= 2 && minPrior <= nPrior,
      "need 2 <= minPrior <= nPrior")
    val frame = Window.partitionBy(col("u"))
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(-nPrior.toLong, -1L)
    val scored = events.select(col(userCol).as("u"), col(idCol),
        col(tsCol), col(valueCol).cast("decimal(18,2)").as("vd"))
      .withColumn("n_prior", count(col("vd")).over(frame))
      .withColumn("__s1", sum(col("vd")).over(frame).cast("double"))
      .withColumn("__s2",
        sum(col("vd") * col("vd")).over(frame).cast("double"))
      .filter(col("n_prior") >= minPrior)
      .withColumn("__mean", col("__s1") / col("n_prior").cast("double"))
      .withColumn("__var",
        (col("__s2") - col("__s1") * col("__s1") /
          col("n_prior").cast("double")) /
          (col("n_prior") - lit(1)).cast("double"))
      .withColumn("__z",
        when(col("__var") > 1e-12,
          (col("vd").cast("double") - col("__mean")) /
            sqrt(col("__var"))))
    scored.filter(abs(col("__z")) > zThreshold)
      .select(col("u").as(userCol), col(idCol),
        col("vd").cast("double").as("value"), col("n_prior"),
        round(col("__z"), 6).as("z_score"))
  }

  /** Gap-based sessionization (batch form): a new session starts after
    * `gapSeconds` of inactivity per user. Single shuffle keyed by user;
    * the running sum is a narrow window cumulation within partitions.
    * Output: one row per session with bounds and size. */
  def sessionize(events: DataFrame, gapSeconds: Long,
                 userCol: String = "user_id",
                 tsCol: String = "ts",
                 idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val gap = unix_micros(col(tsCol)) - unix_micros(
      lag(col(tsCol), 1).over(byUser))
    val sessions = events
      .withColumn("new_session",
        when(gap.isNull || gap > gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn("session_index",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
    sessions.groupBy(col(userCol), col("session_index"))
      .agg(count(lit(1)).as("n_events"),
        min(col(idCol)).as("first_event_id"),
        max(col(idCol)).as("last_event_id"))
  }

  /** Multi-touch conversion attribution: distribute each conversion's
    * unit of credit over the user's touch events inside a lookback
    * window — the classic "which channel drove the purchase" table
    * (models: `last_touch` gives the most recent touch everything,
    * `linear` splits evenly), and in pipeline terms the
    * which-source-fed-the-good-model question asked of crawl events.
    *
    * Scale shape: one user-keyed equi-join between the (small)
    * conversion slice and the touch slice, filtered to the half-open
    * lookback (touch.ts ∈ [conv.ts − lookback, conv.ts)); per-user
    * activity bounds the fan-out (for a pathological mega-user,
    * pre-bucket by time with the RangeJoin construction — same
    * result, bounded pairs). Credit math is exact-replicable: linear
    * credit rounds 1/n to 6 once per conversion and the per-type
    * rollup sums DECIMAL; last-touch picks max (ts, tie) — no floats
    * anywhere in the choice. Output: one row per touch type —
    * (touch_type, n_conversions, credit[round 6]); conversions with
    * NO in-window touch are counted in none (the unattributed gap is
    * visible as sum(credit) < total conversions). */
  def attributeConversions(events: DataFrame, conversionType: String,
                           lookbackSeconds: Long,
                           model: String = "last_touch",
                           userCol: String = "user_id",
                           typeCol: String = "event_type",
                           tsCol: String = "ts",
                           idCol: String = "event_id"): DataFrame = {
    require(lookbackSeconds > 0, "lookbackSeconds must be positive")
    require(Set("last_touch", "linear")(model),
      "model must be last_touch or linear")
    val conv = events.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("u"), col(idCol).as("cid"),
        unix_micros(col(tsCol)).as("cts"))
    val touch = events.filter(col(typeCol) =!= conversionType)
      .select(col(userCol).as("u"), col(idCol).as("tid"),
        col(typeCol).as("touch_type"), unix_micros(col(tsCol)).as("tts"))
    val paired = conv.join(touch, Seq("u"))
      .filter(col("tts") < col("cts") &&
        col("tts") >= col("cts") - lookbackSeconds * 1000000L)
    val credited = model match {
      case "last_touch" =>
        // max (ts, tie) — integer comparison, deterministic
        paired.groupBy(col("cid"))
          .agg(max(struct(col("tts"), col("tid"), col("touch_type")))
            .as("w"))
          .select(col("cid"), col("w.touch_type"),
            lit(BigDecimal(1).setScale(6)).as("credit"))
      case "linear" =>
        val n = Window.partitionBy(col("cid"))
        paired
          .withColumn("credit",
            round(lit(1.0) / count(lit(1)).over(n), 6)
              .cast("decimal(16,6)"))
          .select(col("cid"), col("touch_type"), col("credit"))
    }
    credited.groupBy(col("touch_type"))
      .agg(count_distinct(col("cid")).as("n_conversions"),
        round(sum(col("credit")).cast("double"), 6).as("credit"))
  }

  /** Slowly-changing-dimension (type 2) interval construction from a
    * change log: collapse each key's consecutive repeats of the tracked
    * attribute, then stitch the survivors into half-open validity
    * intervals [valid_from, valid_to) with the open-ended last interval
    * marked current. The "current" slice IS the upsert/CDC snapshot
    * (latest value per key), so one operator serves both the history
    * table and the merge-into result.
    *
    * Scale shape: two windows, both partitioned by the key — keyed
    * shuffles only, no global order anywhere; a key's history sorts
    * within its own partition (event-log key cardinality dwarfs
    * per-key depth, the shape window functions are built for). Repeat
    * collapse happens BEFORE interval stitching, so a key flapping
    * A→A→A…→B (the telemetry common case) carries one row per run, not
    * per event. `tieCol` breaks equal-timestamp ties deterministically.
    * Output: (key, value, valid_from, valid_to, is_current); valid_to
    * null on the current row. */
  def scd2(events: DataFrame, keyCol: String, attrCol: String,
           tsCol: String = "ts",
           tieCol: String = "event_id"): DataFrame = {
    val runs = events
      .select(col(keyCol).as("key"), col(attrCol).as("value"),
        col(tsCol).as("ts0"), col(tieCol).as("tie"))
      // lag over a STRUCT so "first row of the key" (struct null) is
      // distinguishable from "previous value was null" (struct non-null,
      // field null) — a bare lag(value) keeps every row whose lag is
      // null and so never collapses consecutive null values
      .withColumn("prev", lag(struct(col("value")), 1).over(
        Window.partitionBy(col("key")).orderBy(col("ts0"), col("tie"))))
      .filter(col("prev").isNull ||
        !(col("prev.value") <=> col("value")))
    val stitched = Window.partitionBy(col("key"))
      .orderBy(col("ts0"), col("tie"))
    runs.select(col("key"), col("value"),
        col("ts0").as("valid_from"),
        lead(col("ts0"), 1).over(stitched).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** First-order Markov transition matrix over each user's event
    * sequence: for every observed (event_type → next event_type) step,
    * the count and the row-normalized transition probability. The
    * standard behavioral-model summary (what follows what), and in
    * pipeline terms the input to next-event prediction features and
    * sequence-anomaly scoring.
    *
    * Ordering is (ts, idCol) — a total order, so the successor of
    * every event is engine-independent even under equal timestamps.
    *
    * Scale shape: one `lead` window keyed by user (each user's
    * sequence sorts inside its own partition — the shape window
    * functions are built for), then a partial-aggregated groupBy that
    * collapses to at most |types|² cells before any exchange; the
    * row normalization runs over that tiny matrix frame, not the
    * event log. No global window, no driver state. Output: one row
    * per observed (src_type, dst_type) — (src_type, dst_type,
    * n_pairs, n_from, prob[round 6]). */
  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
                       typeCol: String = "event_type",
                       tsCol: String = "ts",
                       idCol: String = "event_id"): DataFrame = {
    val seqW = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(typeCol).as("src_type"), col(tsCol),
        col(idCol))
      .withColumn("dst_type", lead(col("src_type"), 1).over(seqW))
      .filter(col("dst_type").isNotNull)
    val counts = pairs.groupBy(col("src_type"), col("dst_type"))
      .agg(count(lit(1)).as("n_pairs"))
    // |types|² rows from here on — the per-src window is over the
    // matrix frame, not the event log
    val perSrc = Window.partitionBy(col("src_type"))
    counts
      .withColumn("n_from", sum(col("n_pairs")).over(perSrc))
      .withColumn("prob", round(col("n_pairs").cast("double") /
        col("n_from").cast("double"), 6))
  }

  /** Top event paths: the most frequent k-step event-type sequences
    * across all users — [[transitionMatrix]]'s higher-order sibling
    * (first-order tells you what follows what; paths surface the
    * recurring multi-step journeys). Every sliding k-window of each
    * user's (ts, idCol)-ordered sequence counts once; ranking is
    * (count desc, path asc) — fully deterministic, no arbitrary-tie
    * row in the output.
    *
    * Scale shape: ONE user-keyed window computes all k−1 leads (they
    * share the window frame, so Spark plans a single Window node over
    * a single exchange); the path groupBy partial-aggregates to at
    * most |types|^k cells before its exchange; the top-N is a
    * TakeOrderedAndProject, never a global sort. `k` is capped
    * because |types|^k is the state bound the partial aggregation
    * relies on. Output: (path, n_paths), topN rows. */
  def topPaths(events: DataFrame, k: Int = 3, topN: Int = 20,
               userCol: String = "user_id",
               typeCol: String = "event_type",
               tsCol: String = "ts",
               idCol: String = "event_id"): DataFrame = {
    require(k >= 2 && k <= 5, "k must be in [2, 5]")
    require(topN >= 1, "topN must be >= 1")
    val seqW = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val base = events.select(col(userCol), col(typeCol).as("s0"),
      col(tsCol), col(idCol))
    val steps = (1 until k).foldLeft(base) { (df, i) =>
      df.withColumn(s"s$i", lead(col("s0"), i).over(seqW))
    }
    // s0 included: a NULL type must drop the whole window, not let
    // concat_ws silently shorten the path (oracle mirrors the filter)
    steps
      .filter((0 until k).map(i => col(s"s$i").isNotNull)
        .reduce(_ && _))
      .select(concat_ws(">",
        (0 until k).map(i => col(s"s$i")): _*).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("path"))
      .limit(topN)
  }

  /** Recency-weighted activity score: per user, the decay-weighted sum
    * of the values of their `maxEvents` most recent events, weight
    * decay^k for the k-th most recent (k = 0 newest). The classic
    * engagement / freshness feature; the trailing-window form is
    * deliberate — it is exactly the bounded state a streaming version
    * would keep, and it makes the arithmetic externally replicable:
    * with the default decay 1/2 every weight is a power of two, so
    * value·decay^k is an EXACT binary shift of the stored double, and
    * with centi-scaled values and k ≤ 7 its shortest decimal form has
    * ≤ 9 digits — the round-9 decimal lattice both engines land on
    * identically, summed as DECIMAL so order cannot matter.
    *
    * Scale shape: one row_number window keyed by user (per-user sort
    * in its own partition) prunes to ≤ maxEvents rows per user, then
    * a user-keyed groupBy that rides the window's partitioning — one
    * shuffle total, no global order. Output: (user, n_recent,
    * decayed_value). */
  def decayedActivity(events: DataFrame, maxEvents: Int = 8,
                      decay: Double = 0.5,
                      userCol: String = "user_id",
                      valueCol: String = "value",
                      tsCol: String = "ts",
                      idCol: String = "event_id"): DataFrame = {
    require(maxEvents >= 1, "maxEvents must be >= 1")
    require(decay > 0 && decay <= 1, "decay must be in (0, 1]")
    val recency = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol).desc, col(idCol).desc)
    events.select(col(userCol), col(valueCol), col(tsCol), col(idCol))
      .withColumn("k", row_number().over(recency) - 1)
      .filter(col("k") < maxEvents)
      .withColumn("term",
        round(col(valueCol) * pow(lit(decay), col("k")), 9)
          .cast("decimal(38,9)"))
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("n_recent"),
        sum(col("term")).cast("double").as("decayed_value"))
  }

  /** Per-user inter-arrival statistics + burstiness — the behavioral
    * fingerprint that separates humans from schedulers: a human's
    * event gaps are bursty (Goh & Barabási 2008: B = (σ−μ)/(σ+μ) → 1),
    * a cron job's are metronomic (B → −1), and a Poisson process sits
    * near 0. The bot-detection / instrumentation-health signal next
    * to [[sessionize]].
    *
    * Gaps are WHOLE SECONDS (epoch-micros diff DIV 1e6 — integer
    * truncation, identical in any engine) ordered by (ts, id); their
    * first and second moments accumulate as DECIMAL(38,0) (exact at
    * any order and immune to the g² long overflow a year-long gap
    * would cause), then ONE fixed-shape double formula for mean, σ,
    * and B. Users with < 3 events emit null burstiness (σ of one gap
    * is not a statistic); < 2 events emit null mean too.
    *
    * One per-user window (lag) riding its own partition + one
    * user-keyed aggregate — no global order. Emits (user, n_events,
    * n_gaps, mean_gap_s[rounded 6], burstiness[rounded 6]). */
  def interArrivalStats(events: DataFrame,
                        userCol: String = "user_id",
                        tsCol: String = "ts",
                        idCol: String = "event_id"): DataFrame = {
    val byUser = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val micros = unix_micros(col(tsCol))
    val gaps = events
      .select(col(userCol), col(tsCol), col(idCol))
      .withColumn("__du", micros - lag(micros, 1).over(byUser))
      // integer DIV, not the double `/` detour: gaps are non-negative
      // (the window orders by ts), where DIV and DuckDB's // agree
      .withColumn("g", expr("__du DIV 1000000"))
    val agg = gaps.groupBy(col(userCol))
      .agg(count(lit(1)).as("n_events"),
        count(col("g")).as("n_gaps"),
        sum(col("g").cast("decimal(38,0)")).as("s1"),
        sum((col("g").cast("decimal(19,0)") * col("g"))
          .cast("decimal(38,0)")).as("s2"))
    def disp(c: Column): Column =
      round(c * lit(1e6)).cast("double") / lit(1e6)
    val m = col("n_gaps").cast("double")
    val mean = col("s1").cast("double") / m
    val variance = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / m) / m
    val sd = sqrt(greatest(lit(0.0), variance))
    agg.select(col(userCol), col("n_events"), col("n_gaps"),
      when(col("n_gaps") >= 1, disp(mean)).as("mean_gap_s"),
      when(col("n_gaps") >= 2 && (sd + mean) > 0,
        disp((sd - mean) / (sd + mean))).as("burstiness"))
  }

  /** Seasonal-baseline anomaly flags — the periodic complement to
    * [[rollingAnomalies]]' trailing z-score: traffic/metric streams
    * have strong time-of-day structure, and "3σ above the last 20
    * events" misses the spike that is normal at noon and alarming at
    * 3am. Each event scores against the (key, hour-of-day) cell it
    * falls in: cell mean/sd over the WHOLE table (the baseline), flag
    * when |value − mean| > k·sd with at least `minObs` observations
    * behind the cell (sparse cells cannot alarm).
    *
    * Numerics: cell Σv and Σv² accumulate as round-9 DECIMALS (exact,
    * order-independent — the decayedActivity lattice), then ONE
    * fixed-shape double formula for mean and population sd
    * (fp-negative variance guarded to 0); the flag compares doubles
    * both engines computed identically. Displayed mean/sd on the
    * integer-scale 6-decimal lattice; the flag uses the UNrounded
    * values.
    *
    * Scale shape: one partial-aggregated groupBy to the (key × 24)
    * cell table + one broadcast join back onto the scan — no windows,
    * no per-event state. Output: events + (hour, n_obs, cell_mean,
    * cell_sd, is_anomaly). */
  /** The (key, hour-of-day) baseline cells: (__key, hour, n_obs,
    * __mean, __sd) — fit once on a historical frame, score many via
    * [[seasonalScore]]. */
  def seasonalCells(events: DataFrame, keyCol: String = "event_type",
                    valueCol: String = "value",
                    tsCol: String = "ts"): DataFrame =
    events
      .select(col(keyCol).as("__key"),
        org.apache.spark.sql.functions.hour(col(tsCol)).as("hour"),
        col(valueCol).as("__v"))
      .groupBy(col("__key"), col("hour"))
      .agg(count(lit(1)).as("n_obs"),
        sum(round(col("__v"), 9).cast("decimal(38,9)")).as("s1"),
        sum(round(col("__v") * col("__v"), 9).cast("decimal(38,9)"))
          .as("s2"))
      .select(col("__key"), col("hour"), col("n_obs"),
        (col("s1").cast("double") / col("n_obs").cast("double"))
          .as("__mean"),
        sqrt(greatest(lit(0.0),
          (col("s2").cast("double") -
            col("s1").cast("double") * col("s1").cast("double") /
              col("n_obs").cast("double")) /
            col("n_obs").cast("double"))).as("__sd"))

  /** Score events against a fitted cell frame (inner join: an event
    * whose (key, hour) has no baseline cell emits nothing — there is
    * no baseline to deviate from; count them upstream). */
  def seasonalScore(events: DataFrame, cells: DataFrame,
                    keyCol: String = "event_type",
                    valueCol: String = "value",
                    tsCol: String = "ts",
                    idCol: String = "event_id",
                    k: Double = 3.0,
                    minObs: Long = 30L): DataFrame = {
    require(k > 0, "k must be > 0")
    def disp(c: Column): Column =
      round(c * lit(1e6)).cast("double") / lit(1e6)
    events
      .withColumn("__key", col(keyCol))
      .withColumn("hour",
        org.apache.spark.sql.functions.hour(col(tsCol)))
      .join(broadcast(cells), Seq("__key", "hour"))
      .select(col(idCol), col(keyCol), col("hour"), col(valueCol),
        col("n_obs"), disp(col("__mean")).as("cell_mean"),
        disp(col("__sd")).as("cell_sd"),
        (col("n_obs") >= minObs && col("__sd") > 0 &&
          abs(col(valueCol) - col("__mean")) > lit(k) * col("__sd"))
          .as("is_anomaly"))
  }

  def seasonalBaseline(events: DataFrame, keyCol: String = "event_type",
                       valueCol: String = "value",
                       tsCol: String = "ts",
                       idCol: String = "event_id",
                       k: Double = 3.0,
                       minObs: Long = 30L): DataFrame =
    seasonalScore(events,
      seasonalCells(events, keyCol, valueCol, tsCol),
      keyCol, valueCol, tsCol, idCol, k, minObs)
}
