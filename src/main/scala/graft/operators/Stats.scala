package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints.TruncateOps
import org.apache.spark.sql.graftext.{QuantileSketch, QuantileSketchMerge, QuantileSketchState}

/** Corpus distribution statistics via the mergeable Greenwald-Khanna
  * quantile sketch — the third sketch family next to frequency
  * (Misra-Gries) and distinct count (KMV).
  *
  * Scale story: exact percentiles need a sort (or a full multiset per
  * group); the GK summary is O((1/ε)·log(εn)) per group and MERGEABLE,
  * so the exchange carries bounded summaries and — via
  * [[writeQuantileShards]] / [[quantilesFromShards]] — per-shard
  * summaries persist to parquet and combine later WITHOUT rescanning
  * the data: incremental corpus statistics, the quantile analogue of
  * the persisted LSH signature store. ε = 0 is the exact degenerate
  * regime (state ∝ group size, partition-order independent, externally
  * oracle-able); ε > 0 is the bounded-state scale path with rank error
  * ≤ ε·n (spec-checked). */
object Stats {

  /** Per-group quantiles of `valueCol`: one row per (group, q) —
    * (groupCols..., q double, value double). Nearest-rank-lower
    * contract: rank 1 + ⌊q·(n−1)⌋. */
  def quantileStats(df: DataFrame, valueCol: String, qs: Seq[Double],
                    eps: Double = 0.0,
                    groupCols: Seq[String] = Nil): DataFrame = {
    val sketch =
      QuantileSketch(col(valueCol).cast("double"), eps, qs).as("qv")
    val agged =
      if (groupCols.isEmpty) df.groupBy().agg(sketch)
      else df.groupBy(groupCols.map(col): _*).agg(sketch)
    val qlits = array(qs.map(lit): _*)
    agged.select(groupCols.map(col) :+ posexplode(col("qv")): _*)
      .select(groupCols.map(col) ++ Seq(
        element_at(qlits, col("pos") + 1).as("q"),
        col("col").as("value")): _*)
  }

  /** Persist one GK summary per `shardCols` group to `path` — the write
    * side of incremental stats. Each row: shardCols + the summary as
    * array<struct<v, g, d>>. */
  def writeQuantileShards(df: DataFrame, path: String, valueCol: String,
                          shardCols: Seq[String],
                          eps: Double = 0.0): Unit = {
    require(shardCols.nonEmpty, "shardCols must be non-empty")
    df.groupBy(shardCols.map(col): _*)
      .agg(QuantileSketchState(col(valueCol).cast("double"), eps)
        .as("summary"))
      .write.mode("overwrite").parquet(path)
  }

  /** Combine persisted shard summaries into corpus-level quantiles
    * without touching the original data: one row per q — (q, value).
    * Reading N summary rows replaces rescanning the N shards' raw
    * values; appending a shard later is one more summary row. */
  def quantilesFromShards(spark: SparkSession, path: String,
                          qs: Seq[Double],
                          eps: Double = 0.0): DataFrame = {
    val merged = spark.read.parquet(path)
      .agg(QuantileSketchMerge(col("summary"), eps, qs).as("qv"))
    val qlits = array(qs.map(lit): _*)
    merged.select(posexplode(col("qv")))
      .select(element_at(qlits, col("pos") + 1).as("q"),
        col("col").as("value"))
  }

  /** Precision/recall sweep for calibrating a quality-classifier
    * threshold against labeled data — the step between training a
    * filter model (NB, DSIR, fastText-style) and gating a corpus on
    * it: every bin edge is a candidate threshold "predict positive
    * when score ≥ t", reported with its confusion counts and P/R/F1.
    *
    * Scale shape: one pass bins every row (`bins` equal-width cells
    * over the observed [min, max]); the per-bin aggregate is the only
    * corpus-sized shuffle. Cumulative counts over the ≤ `bins`-row
    * frame come from a bounded self-join (bins² ≤ 10⁴ rows at the
    * default), NOT a global-order window — no single-partition
    * WindowExec on any path. min/max and the positive total are the
    * only driver scalars. All ratio arithmetic is guarded (ANSI) and
    * has identical double shape in the oracle. Output: one row per
    * OBSERVED bin — (threshold, n_pred, tp, fp, precision, recall,
    * f1), threshold = the bin's lower edge. */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String,
              bins: Int = 100): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val base = df.select(col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("boolean").as("y"))
      .filter(col("s").isNotNull && !isnan(col("s")) &&
        col("y").isNotNull)
    val mm = base.agg(min(col("s")), max(col("s")),
      sum(when(col("y"), lit(1L)).otherwise(lit(0L)))).head
    require(!mm.isNullAt(0), "prCurve needs at least one scored row")
    val lo = mm.getDouble(0)
    val range = mm.getDouble(1) - lo
    val posTotal = mm.getLong(2)
    val bin =
      if (range == 0) lit(0)
      else least(floor((col("s") - lit(lo)) / lit(range) * lit(bins))
        .cast("int"), lit(bins - 1))
    val per = base.withColumn("b", bin)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), lit(1L)).otherwise(lit(0L))).as("np"))
      .truncateLineage(false)
    // cumulative-from-above via bounded self-join: row b sums every
    // observed bin b' >= b
    val cum = per.select(col("b")).as("lo")
      .join(per.select(col("b").as("bh"), col("n"), col("np")).as("hi"),
        col("bh") >= col("b"))
      .groupBy(col("b"))
      .agg(sum(col("n")).as("n_pred"), sum(col("np")).as("tp"))
    val p = col("tp").cast("double") / col("n_pred").cast("double")
    val r = col("tp").cast("double") / lit(posTotal.toDouble)
    cum.select(
      (lit(lo) + lit(range) * col("b").cast("double") / lit(bins))
        .as("threshold"),
      col("n_pred"), col("tp"),
      (col("n_pred") - col("tp")).as("fp"),
      round(p, 6).as("precision"),
      when(lit(posTotal) > 0, round(r, 6)).as("recall"),
      when(col("tp") > 0 && lit(posTotal) > 0,
        round(lit(2.0) * p * r / (p + r), 6)).as("f1"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic over equal-width
    * value bins — the distribution-shift monitor between two corpus
    * slices (yesterday vs today's crawl, source A vs source B, train
    * vs serving): D = max over bins of |CDF_a − CDF_b|, exact for the
    * binned values (within one `binWidth` of the raw-value KS).
    *
    * Scale shape: each side collapses to per-bin counts in one pass
    * (the only corpus-sized shuffles), then everything runs on ≤ bins
    * rows: cumulative counts via the bounded bins² self-join (the
    * prCurve/aucBinned pattern — no global-order window), and the
    * max-diff comparison uses the exact integer cross-product
    * |cum_a·n_b − cum_b·n_a| so there is no float accumulation at all;
    * the single double division happens once on the winner. (The
    * integer form is exact while cum·n fits a long — ~3·10⁹ rows per
    * side; past that, swap to the double CDF form.) Output: one row
    * (n_a, n_b, n_bins, d_stat, at_bin), at_bin = the lowest bin
    * achieving D. */
  def ksDrift(a: DataFrame, b: DataFrame, valueCol: String,
              binWidth: Double): DataFrame = {
    require(binWidth > 0, "binWidth must be > 0")
    def binned(df: DataFrame, cName: String) =
      df.select(floor(col(valueCol).cast("double") / lit(binWidth))
          .cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(cName))
    val per = binned(a, "ca").join(binned(b, "cb"), Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .truncateLineage(false)
    val cum = per.select(col("bin"))
      .join(per.select(col("bin").as("bh"), col("ca"), col("cb")),
        col("bh") <= col("bin"))
      .groupBy(col("bin"))
      .agg(sum(col("ca")).as("cum_a"), sum(col("cb")).as("cum_b"))
    val tot = per.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      count(lit(1)).as("n_bins"))
    val scaled = cum.crossJoin(broadcast(tot))
      .withColumn("diff",
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
    val mx = scaled.groupBy(col("n_a"), col("n_b"), col("n_bins"))
      .agg(max(col("diff")).as("mx"))
    scaled.select(col("bin"), col("diff"))
      .crossJoin(broadcast(mx))
      .filter(col("diff") === col("mx"))
      .groupBy(col("n_a"), col("n_b"), col("n_bins"), col("mx"))
      .agg(min(col("bin")).as("at_bin"))
      .select(col("n_a"), col("n_b"), col("n_bins"),
        round(col("mx").cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("d_stat"),
        col("at_bin"))
  }

  /** Binned ROC-AUC — the one-number companion to [[prCurve]]: the
    * Mann–Whitney probability that a random positive outscores a
    * random negative, computed over the same equal-width bins
    * (within-bin ties contribute ½, the standard mid-rank treatment;
    * the binning quantizes scores, so this is exact for the binned
    * scores and within one bin-width of the raw-score AUC).
    *
    * Same scale shape as prCurve: one corpus-sized pass into per-bin
    * (positives, negatives) counts, then a bounded bins² self-join
    * accumulates positives-below-each-bin — no global sort, no
    * global-order window, no per-row rank materialization (the
    * textbook rank-sum formula needs a global ranking, which is
    * exactly what doesn't scale). All sums are exact integers; the
    * single double division has identical shape in the oracle.
    * Output: one row (n_pos, n_neg, auc); auc is null when either
    * class is empty. */
  def aucBinned(df: DataFrame, scoreCol: String, labelCol: String,
                bins: Int = 100): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val base = df.select(col(scoreCol).cast("double").as("s"),
        col(labelCol).cast("boolean").as("y"))
      .filter(col("s").isNotNull && !isnan(col("s")) &&
        col("y").isNotNull)
    val mm = base.agg(min(col("s")), max(col("s"))).head
    require(!mm.isNullAt(0), "aucBinned needs at least one scored row")
    val lo = mm.getDouble(0)
    val range = mm.getDouble(1) - lo
    val bin =
      if (range == 0) lit(0)
      else least(floor((col("s") - lit(lo)) / lit(range) * lit(bins))
        .cast("int"), lit(bins - 1))
    val per = base.withColumn("b", bin)
      .groupBy(col("b"))
      .agg(sum(when(col("y"), lit(1L)).otherwise(lit(0L))).as("np"),
        sum(when(col("y"), lit(0L)).otherwise(lit(1L))).as("nn"))
      .truncateLineage(false)
    // positives strictly above each bin, via the bounded self-join
    val above = per.select(col("b"), col("np"), col("nn")).as("cur")
      .join(per.select(col("b").as("bh"), col("np").as("nph")).as("high"),
        col("bh") > col("b"), "left")
      .groupBy(col("b"), col("np"), col("nn"))
      .agg(coalesce(sum(col("nph")), lit(0L)).as("pos_above"))
    above.agg(
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        // Σ over bins: negatives_b × (positives strictly above + ½ ties)
        // — doubled to stay integer-exact, halved in the final division
        sum(col("nn") * (lit(2L) * col("pos_above") + col("np")))
          .as("u2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("u2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") *
              col("n_neg").cast("double")), 6)).as("auc"))
  }

  /** Binned ECDF normalization: replace a raw score with its corpus
    * percentile (the fraction of rows scoring at-or-below its bin) —
    * the robust way to put heterogeneous quality signals on one [0, 1]
    * scale before blending or thresholding (min-max normalization is
    * one outlier away from compressing everything; rank
    * normalization is distribution-free). The textbook
    * `percent_rank()` is a GLOBAL-order window — one partition holds
    * the corpus; this is its scale-correct replacement at bin
    * resolution (error ≤ one bin's mass, bins is the caller's knob).
    *
    * Shape: one pass bins every row; per-bin counts cumulate via the
    * bounded bins² self-join (the prCurve pattern — no global-order
    * window anywhere); the ≤ bins-row pct table broadcast-joins back
    * onto the rows. min/max are the only driver scalars. Output:
    * input rows + `pct` (round 6, in (0, 1]; a constant column maps
    * to 1.0). */
  def ecdfNormalize(df: DataFrame, scoreCol: String,
                    bins: Int = 1000): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    // NaN is nulled out up front so min/max/count, the bin counts, and
    // the total all see the SAME population: count() counts NaN but the
    // bin filter drops it, which would deflate every pct (and a single
    // NaN poisons max -> range). NaN/null rows keep pct = null.
    val v = {
      val raw = col(scoreCol).cast("double")
      when(!isnan(raw), raw)
    }
    val mm = df.agg(min(v), max(v), count(v)).head
    require(mm.getLong(2) > 0, "ecdfNormalize needs non-null scores")
    val lo = mm.getDouble(0)
    val range = mm.getDouble(1) - lo
    // the isNotNull gate matters in BOTH branches: least() SKIPS nulls
    // (least(null, bins-1) = bins-1), so an unguarded null score would
    // silently land in the top bin instead of staying unscored
    def binOf(e: Column) =
      if (range == 0) when(e.isNotNull, lit(0))
      else when(e.isNotNull,
        least(floor((e - lit(lo)) / lit(range) * lit(bins))
          .cast("int"), lit(bins - 1)))
    val per = df.select(binOf(v).as("b"))
      .filter(col("b").isNotNull)
      .groupBy(col("b")).agg(count(lit(1)).as("n"))
      .truncateLineage(false)
    val cum = per.select(col("b")).as("lo")
      .join(per.select(col("b").as("bh"), col("n")), col("bh") <= col("b"))
      .groupBy(col("b")).agg(sum(col("n")).as("cum"))
    val total = mm.getLong(2)
    val pct = cum.select(col("b").as("__b"),
      round(col("cum").cast("double") / lit(total.toDouble), 6)
        .as("pct"))
    df.withColumn("__b", binOf(v))
      .join(broadcast(pct), Seq("__b"), "left")
      .drop("__b")
  }

  /** Calibration (reliability) curve: per predicted-probability bin,
    * the mean prediction against the empirical positive rate — the
    * diagram that says whether a quality classifier's 0.9 means 90%
    * (prCurve/aucBinned rank; this checks the probabilities
    * themselves, which is what you need before using scores as
    * sampling WEIGHTS rather than thresholds). Bins are fixed over
    * [0, 1] (the probability domain), so bin edges are data-independent
    * and two models' curves are comparable.
    *
    * One corpus pass into per-bin (n, positive count, decimal-summed
    * prediction mass); every ratio rounds to 6 with oracle-identical
    * shape. Output: one row per OBSERVED bin — (bin, p_lo, p_hi, n,
    * mean_predicted[round 6], positive_rate[round 6]). */
  def calibrationCurve(df: DataFrame, probCol: String, labelCol: String,
                       bins: Int = 10): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val p = col(probCol).cast("double")
    val base = df.select(p.as("p"),
        col(labelCol).cast("boolean").as("y"))
      .filter(col("p").isNotNull && !isnan(col("p")) &&
        col("y").isNotNull)
    base.select(
        least(floor(col("p") * lit(bins)).cast("int"), lit(bins - 1))
          .as("bin"),
        col("p"), col("y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), lit(1L)).otherwise(lit(0L))).as("np"),
        sum(round(col("p"), 9).cast("decimal(28,9)")).as("pm"))
      .select(col("bin"),
        (col("bin").cast("double") / lit(bins)).as("p_lo"),
        ((col("bin") + 1).cast("double") / lit(bins)).as("p_hi"),
        col("n"),
        round(col("pm").cast("double") / col("n").cast("double"), 6)
          .as("mean_predicted"),
        round(col("np").cast("double") / col("n").cast("double"), 6)
          .as("positive_rate"))
  }

  /** Median-absolute-deviation outlier gate: flag rows whose value
    * sits more than `k` scaled MADs from the median — the robust
    * data-cleaning filter (a mean/stddev z-score gate moves WITH the
    * outliers it should catch; median and MAD don't, up to 50%
    * contamination).
    *
    * Two bounded aggregate passes: the exact interpolated median, then
    * the median of |x − med|. Both thresholds are driver scalars
    * rounded to 6 (the [[graft.operators.Curation.bucketByQuantile]]
    * replication discipline), so the gate itself is a scan-speed
    * projection — no join, no window. MAD scales by the normal
    * consistency constant 1.4826 (k is then in σ-equivalent units).
    * At 100 TB swap `percentile` for `percentile_approx` unchanged
    * downstream. A zero MAD (> 50% of values identical) flags only
    * exact-median rows as inliers — documented degenerate, guarded to
    * avoid 0·k = 0 masquerading as a band.
    *
    * Output: input rows + (abs_dev, keep boolean). */
  def madOutliers(df: DataFrame, valueCol: String,
                  k: Double = 3.5): DataFrame = {
    val (med, scaled) = fitMad(df, valueCol)
    madGate(df, valueCol, med, scaled, k)
  }

  /** Fit the [[madOutliers]] thresholds on a reference frame: (median,
    * scaled MAD), both round-6 driver scalars. Split out so a fit can
    * gate a DIFFERENT frame — most usefully an unbounded stream, where
    * [[madGate]] runs unchanged as a stateless projection. */
  def fitMad(df: DataFrame, valueCol: String): (Double, Double) = {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val v = col(valueCol).cast("double")
    val medRow = df.agg(percentile(v, lit(0.5))).head
    require(!medRow.isNullAt(0), "fitMad needs non-null values")
    val med = r6(medRow.getDouble(0))
    val mad = r6(df.agg(percentile(abs(v - lit(med)), lit(0.5)))
      .head.getDouble(0))
    (med, r6(1.4826 * mad))
  }

  /** The scan-speed MAD gate against pre-fit thresholds. */
  def madGate(df: DataFrame, valueCol: String, median: Double,
              scaledMad: Double, k: Double = 3.5): DataFrame = {
    require(k > 0, "k must be positive")
    val dev = abs(col(valueCol).cast("double") - lit(median))
    df.withColumn("abs_dev", round(dev, 6))
      .withColumn("keep",
        if (scaledMad == 0.0) dev === 0.0
        else dev <= lit(k) * lit(scaledMad))
  }

  /** Kullback-Leibler divergence D(P‖Q) between two empirical
    * CATEGORICAL distributions — the drift monitor for label-space
    * columns (domain mix, language mix, event types) where [[ksDrift]]
    * covers the continuous case. Add-k smoothing over the UNION of
    * observed categories keeps Q(x) > 0 (unsmoothed KL is infinite the
    * moment a new category appears — precisely when you want a finite,
    * comparable number).
    *
    * Shape: two category-bounded count aggregates are the only
    * corpus-sized work; the category-level log-ratio terms round to 9
    * and sum as DECIMAL (order-independent, engine-replicable).
    * Output: one row (n_a, n_b, n_categories, kl_div[round 6], in
    * nats). */
  def klDivergence(a: DataFrame, b: DataFrame, catCol: String,
                   smoothK: Double = 0.5): DataFrame = {
    require(smoothK > 0, "smoothK must be positive")
    val ca = a.select(col(catCol).cast("string").as("c")).na.drop()
      .groupBy(col("c")).agg(count(lit(1)).as("na"))
    val cb = b.select(col(catCol).cast("string").as("c")).na.drop()
      .groupBy(col("c")).agg(count(lit(1)).as("nb"))
    val cats = ca.join(cb, Seq("c"), "full_outer")
      .select(col("c"), coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
      .truncateLineage(false)
    val tot = cats.agg(sum(col("na")), sum(col("nb")),
      count(lit(1))).head
    val (totA, totB, nCat) =
      (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    require(totA > 0 && totB > 0,
      "klDivergence needs non-empty sides")
    // p, q under add-k smoothing; term = p·ln(p/q), decimal-summed
    val p = (col("na") + smoothK) / lit(totA + smoothK * nCat)
    val q = (col("nb") + smoothK) / lit(totB + smoothK * nCat)
    cats.agg(sum(round(p * log(p / q), 9).cast("decimal(28,9)"))
        .cast("decimal(28,9)").as("kl_dec"))
      .select(lit(totA).as("n_a"), lit(totB).as("n_b"),
        lit(nCat).as("n_categories"),
        round(col("kl_dec").cast("double"), 6).as("kl_div"))
  }

  /** Pairwise Pearson correlation of `cols` in ONE aggregate pass —
    * the feature-redundancy screen run before training on a wide
    * signal matrix (two quality signals correlating at 0.98 are one
    * signal; an anti-correlated pair flags a sign bug).
    *
    * Scale shape: a single hash aggregate computes every Σx, Σx² and
    * Σxy (k + k + k(k+1)/2 aggregates over one corpus pass — the
    * textbook `df.stat.corr` costs one pass PER PAIR); the k²-sized
    * reshape to (col_a, col_b, corr) rows happens on the one-row
    * aggregate inside the plan, nothing is collected.
    *
    * Exactness at codegen speed: values quantize to INTEGER units
    * iv = round(x·10^scale) — Pearson is invariant to the scale
    * factor, so it cancels from the formula entirely — and every
    * moment is then an exact LONG sum (products split into base-1e9
    * hi/lo halves against overflow; Spark's `DIV`/`%` truncate with
    * dividend-sign remainder, so hi·1e9 + lo reconstructs exactly,
    * negative values included — spec-pinned). Exact integers are
    * partition-order independent AND replicable in any engine with
    * wide-integer sums, with zero per-row decimal work: the previous
    * round-9 DECIMAL discipline computed the same guarantees 15×
    * slower (measured 7.2 s → this form 0.6 s at sf0.1) because
    * precision-28 decimal sums leave Spark's compact-long fast path.
    * Bounds, checked in-plan (raise on violation, never silent):
    * |iv| < 1e9, i.e. |x| < 10^(9−scale); row count < ~9·10⁹ per the
    * long Σhi bound; the final decimal(38,0) reconstruction holds to
    * Σx·Σy ≤ 8·10³⁷.
    *
    * Rows with a null/NaN in ANY of `cols` are dropped first
    * (pairwise-complete definitions make each cell see a different n;
    * one consistent n keeps the matrix PSD and the contract simple).
    * Output: (col_a, col_b, corr[round 6]) for every unordered pair
    * incl. the diagonal; corr null when a variance is zero. */
  def correlationMatrix(df: DataFrame, cols: Seq[String],
                        scale: Int = 4): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs at least 2 columns")
    require(cols.distinct.size == cols.size, "duplicate columns")
    require(scale >= 0 && scale <= 6, "scale must be in [0, 6]")
    val unit = math.pow(10.0, scale)
    val split = 1000000000L
    // backtick-quote every name reference (escaping embedded backticks)
    // so columns with spaces/dots/hyphens parse — both in col() lookups
    // (a bare col("a.b") parses the dot as struct access) and in the
    // DIV/% exprs (DIV, integral long division, has no Column-API form)
    def bt(c: String) = "`" + c.replace("`", "``") + "`"
    def btCol(c: String) = col(bt(c))
    val clean = df.select(cols.map(c =>
        btCol(c).cast("double").as(c)): _*)
      .na.drop("any", cols.map(bt))
      .filter(cols.map(c => !isnan(btCol(c))).reduce(_ && _))
    val q = clean.select(cols.map(c =>
      round(btCol(c) * lit(unit)).cast("long").as(c)): _*)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i <= j
    } yield (cols(i), cols(j))
    val aggs =
      cols.flatMap(c => Seq(
        sum(btCol(c)).as(s"s_$c"),
        max(abs(btCol(c))).as(s"mx_$c"))) ++
      pairs.flatMap { case (a, b) =>
        Seq(
          sum(expr(s"(${bt(a)} * ${bt(b)}) DIV $split")).as(s"ph_${a}_$b"),
          sum(expr(s"(${bt(a)} * ${bt(b)}) % $split")).as(s"pl_${a}_$b"))
      }
    val m = q.agg(count(lit(1)).as("n"), aggs: _*)
    // reconstruct exact decimal moments from the long halves, on the
    // single aggregate row
    def d(c: Column) = c.cast("decimal(38,0)")
    val n = d(col("n"))
    def sC(c: String) = d(btCol(s"s_$c"))
    def pC(a: String, b: String) =
      d(lit(split)) * d(btCol(s"ph_${a}_$b")) + d(btCol(s"pl_${a}_$b"))
    // in-plan range guard: a violated bound must raise, not mis-sum.
    // assert_true returns null when the condition holds, so gating the
    // corr expression on its null-ness evaluates it exactly once
    // mx >= 0 catches the double->long saturation corner: a value cast
    // saturating to Long.MinValue makes abs() negative, which would
    // sneak past a bare `< split` check
    val guard = assert_true(
      cols.map(c => btCol(s"mx_$c") >= lit(0L) &&
          btCol(s"mx_$c") < lit(split))
        .reduce(_ && _),
      lit(s"correlationMatrix: |value|*10^$scale must stay below 1e9 " +
        "- lower `scale` or pre-scale the column"))
    val rows = pairs.map { case (a, b) =>
      val num = n * pC(a, b) - sC(a) * sC(b)
      val va = n * pC(a, a) - sC(a) * sC(a)
      val vb = n * pC(b, b) - sC(b) * sC(b)
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(guard.isNull && va > 0 && vb > 0,
          round(num.cast("double") /
            (sqrt(va.cast("double")) * sqrt(vb.cast("double"))), 6))
          .as("corr"))
    }
    m.select(explode(array(rows: _*)).as("r"))
      .select(col("r.col_a"), col("r.col_b"), col("r.corr"))
  }

  /** Deequ-style data-quality profile: per-column constraint metrics in
    * a single aggregate job — the table-health check run before a
    * corpus enters a training mix (a column that silently went 40% null
    * or collapsed to one distinct value poisons everything downstream,
    * and at 100 TB nobody eyeballs it).
    *
    * Metrics per column: row count, null count, completeness (non-null
    * fraction), exact distinct count, and — where the value casts to a
    * number — min / max / decimal-summed mean. Scale shape: ONE
    * aggregate over one scan; the multi-column count-distinct plans as
    * Spark's Expand (k + 1 row multiplication before partial
    * aggregation — the engine's standard multi-distinct shape; for
    * k ≫ 10 columns swap `count_distinct` for `approx_count_distinct`
    * unchanged elsewhere). The k-row reshape to long form explodes the
    * single aggregate row inside the plan (the [[correlationMatrix]]
    * pattern) — nothing is collected. Mean rounds per-row to 9 and
    * sums as DECIMAL: partition-order independent, engine-replicable.
    * Output: (column, n_rows, n_null, completeness[round 6],
    * n_distinct, min_value, max_value, mean_value[round 6]); the three
    * numeric cells are null for non-numeric columns. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    require(cols.distinct.size == cols.size, "duplicate columns")
    val numeric: Map[String, Boolean] = cols.map { c =>
      c -> (df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType => true
        case _ => false
      })
    }.toMap
    val aggs = cols.flatMap { c =>
      val base = Seq(
        count(col(c)).as(s"nn_$c"),
        count_distinct(col(c)).as(s"nd_$c"))
      val num =
        if (numeric(c)) Seq(
          min(col(c).cast("double")).as(s"mn_$c"),
          max(col(c).cast("double")).as(s"mx_$c"),
          sum(round(col(c).cast("double"), 9).cast("decimal(38,9)"))
            .as(s"sm_$c"))
        else Nil
      base ++ num
    }
    val m = df.agg(count(lit(1)).as("n"), aggs: _*)
    val rows = cols.map { c =>
      val nn = col(s"nn_$c")
      val (mn, mx, mean) =
        if (numeric(c))
          (col(s"mn_$c"), col(s"mx_$c"),
            when(nn > 0,
              round(col(s"sm_$c").cast("double") / nn.cast("double"), 6)))
        else (lit(null).cast("double"), lit(null).cast("double"),
          lit(null).cast("double"))
      struct(lit(c).as("column"), col("n").as("n_rows"),
        (col("n") - nn).as("n_null"),
        round(nn.cast("double") / col("n").cast("double"), 6)
          .as("completeness"),
        col(s"nd_$c").as("n_distinct"),
        mn.as("min_value"), mx.as("max_value"), mean.as("mean_value"))
    }
    m.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Persist one mergeable profile summary per `shardCols` group — the
    * incremental form of [[profileColumns]], the same
    * write-shards/merge-later contract as [[writeQuantileShards]]: at
    * 100 TB the table-health check must not rescan the corpus each
    * day, it reads yesterday's summaries and adds today's shard. Each
    * persisted metric is exactly mergeable: counts and null counts
    * add, min/max fold, means come from decimal sums (order- and
    * shard-independent). Distinct counts are deliberately ABSENT —
    * per-shard distincts don't merge exactly (overlap is lost); use
    * the KMV sketch family for mergeable distinct estimates. One
    * aggregate per call; each row: shardCols + one struct per profiled
    * column. */
  def writeProfileShards(df: DataFrame, path: String, cols: Seq[String],
                         shardCols: Seq[String]): Unit = {
    require(cols.nonEmpty, "cols must be non-empty")
    require(shardCols.nonEmpty, "shardCols must be non-empty")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        min(col(c).cast("double")).as(s"mn_$c"),
        max(col(c).cast("double")).as(s"mx_$c"),
        sum(round(col(c).cast("double"), 9).cast("decimal(38,9)"))
          .as(s"sm_$c"))
    }
    df.groupBy(shardCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Combine persisted profile shards into the corpus-level profile
    * without touching the original data — appending a shard later is
    * one more summary row, and the merged numbers are bit-identical to
    * a direct [[profileColumns]] pass (minus n_distinct) because every
    * persisted metric is exactly mergeable. Output: (column, n_rows,
    * n_null, completeness[round 6], min_value, max_value,
    * mean_value[round 6]). */
  def profileFromShards(spark: SparkSession, path: String,
                        cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val aggs = sum(col("__n")).as("n") +: cols.flatMap { c =>
      Seq(sum(col(s"nn_$c")).as(s"nn_$c"),
        min(col(s"mn_$c")).as(s"mn_$c"),
        max(col(s"mx_$c")).as(s"mx_$c"),
        sum(col(s"sm_$c")).as(s"sm_$c"))
    }
    val m = spark.read.parquet(path).agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      val nn = col(s"nn_$c")
      struct(lit(c).as("column"), col("n").as("n_rows"),
        (col("n") - nn).as("n_null"),
        round(nn.cast("double") / col("n").cast("double"), 6)
          .as("completeness"),
        col(s"mn_$c").as("min_value"), col(s"mx_$c").as("max_value"),
        when(nn > 0,
          round(col(s"sm_$c").cast("double") / nn.cast("double"), 6))
          .as("mean_value"))
    }
    m.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Equal-width histogram of a numeric column — the distribution
    * profile behind [[ksDrift]]/[[psiDrift]] exposed as its own
    * operator: bin = ⌊value / binWidth⌋ over the full corpus, one
    * output row per OBSERVED bin (empty bins are absent — at 100 TB a
    * wide-range column would otherwise emit unbounded empty rows).
    *
    * One pass, one bounded shuffle (≤ observed-bin cardinality); nulls
    * and NaNs drop. Output: (bin, lo, hi, n) with lo = bin·binWidth. */
  def histogram(df: DataFrame, valueCol: String,
                binWidth: Double): DataFrame = {
    require(binWidth > 0, "binWidth must be > 0")
    val v = col(valueCol).cast("double")
    df.select(v.as("v")).filter(col("v").isNotNull && !isnan(col("v")))
      .select(floor(col("v") / lit(binWidth)).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .select(col("bin"), (col("bin").cast("double") * lit(binWidth)).as("lo"),
        ((col("bin") + 1).cast("double") * lit(binWidth)).as("hi"), col("n"))
  }

  /** Equi-DEPTH histogram: `bins` buckets holding ~equal row counts,
    * split at the exact interpolated quantiles — the profiling
    * complement to the equal-width [[histogram]] for skewed columns,
    * where equal-width piles 99% of rows into one bar and the
    * interesting structure into invisible slivers. Also the binning a
    * drift monitor wants when the reference distribution is heavy-
    * tailed (each bin then carries equal evidence).
    *
    * Two passes by necessity (thresholds depend on the whole corpus):
    * one quantile aggregate producing `bins − 1` driver scalars
    * rounded to 6 (the bucketByQuantile replication discipline; at
    * 100 TB swap `percentile` for `percentile_approx` unchanged
    * downstream), then a scan-speed projection — bin = #{thresholds ≤
    * value} via a compiled array filter over the literal thresholds,
    * no join. Ties land in the upper bin. Output: one row per
    * OBSERVED bin — (bin, lo, hi, n); lo null on the first bin, hi
    * null on the last. */
  def equiDepthHistogram(df: DataFrame, valueCol: String,
                         bins: Int = 10): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val clean = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && !isnan(col("v")))
    val qs = (1 until bins).map(_.toDouble / bins)
    val qRow = clean.agg(
      percentile(col("v"), lit(qs.toArray)).as("ts")).head
    require(!qRow.isNullAt(0), "equiDepthHistogram needs non-null values")
    val ts = qRow.getSeq[Double](0).map(r6)
    val tArr = array(ts.map(lit): _*)
    clean.select(size(filter(tArr, t => col("v") >= t)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .select(col("bin"),
        when(col("bin") > 0, element_at(tArr, col("bin"))).as("lo"),
        when(col("bin") < bins - 1, element_at(tArr, col("bin") + 1))
          .as("hi"),
        col("n"))
  }

  /** Population Stability Index between two corpus slices over
    * equal-width bins — the industry-standard "has this feature
    * drifted" number (PSI = Σ (p_a − p_b)·ln(p_a/p_b); rule of thumb:
    * < 0.1 stable, > 0.25 action). The symmetric sibling of
    * [[klDivergence]] on the continuous axis [[ksDrift]] covers with a
    * max-statistic: KS finds the worst single point, PSI integrates
    * total mass movement — monitoring wants both.
    *
    * Same scale shape as ksDrift: each side collapses to per-bin counts
    * in one pass (the only corpus-sized shuffles); add-k smoothing over
    * the UNION of observed bins keeps both proportions positive (an
    * empty-on-one-side bin is precisely the drift signal, and
    * unsmoothed PSI is infinite there); the per-bin terms round to 9
    * and sum as DECIMAL. Output: one row (n_a, n_b, n_bins,
    * psi[round 6]). */
  def psiDrift(a: DataFrame, b: DataFrame, valueCol: String,
               binWidth: Double, smoothK: Double = 0.5): DataFrame = {
    require(binWidth > 0, "binWidth must be > 0")
    require(smoothK > 0, "smoothK must be positive")
    def binned(df: DataFrame, cName: String) = {
      val v = col(valueCol).cast("double")
      df.select(v.as("v")).filter(col("v").isNotNull && !isnan(col("v")))
        .select(floor(col("v") / lit(binWidth)).cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as(cName))
    }
    val bins = binned(a, "na").join(binned(b, "nb"), Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
      .truncateLineage(false)
    val tot = bins.agg(sum(col("na")), sum(col("nb")), count(lit(1))).head
    val (totA, totB, nBins) =
      (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    require(totA > 0 && totB > 0, "psiDrift needs non-empty sides")
    val p = (col("na") + smoothK) / lit(totA + smoothK * nBins)
    val q = (col("nb") + smoothK) / lit(totB + smoothK * nBins)
    bins.agg(sum(round((p - q) * log(p / q), 9).cast("decimal(28,9)"))
        .cast("decimal(28,9)").as("psi_dec"))
      .select(lit(totA).as("n_a"), lit(totB).as("n_b"),
        lit(nBins).as("n_bins"),
        round(col("psi_dec").cast("double"), 6).as("psi"))
  }

  /** Cohen's kappa: agreement between two categorical columns beyond
    * chance — the standard inter-annotator / classifier-vs-gold
    * agreement score (κ = (p_o − p_e)/(1 − p_e), Cohen 1960).
    *
    * One pass builds the (a, b) contingency counts; the marginal
    * products reduce over the label-bounded contingency frame. All
    * counts are exact integers; the two divisions happen once at the
    * end with oracle-identical shape. Null in either column drops the
    * row. Output: one row (n, observed_agreement, expected_agreement,
    * kappa[round 6]); kappa is null for the degenerate p_e = 1 (both
    * raters constant and equal — agreement is trivially total and
    * chance-correction undefined). */
  def cohenKappa(df: DataFrame, colA: String, colB: String): DataFrame = {
    val base = df.select(col(colA).cast("string").as("a"),
        col(colB).cast("string").as("b"))
      .na.drop()
    val cont = base.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("c"))
      .truncateLineage(false)
    val ma = cont.groupBy(col("a")).agg(sum(col("c")).as("ca"))
    val mb = cont.groupBy(col("b")).agg(sum(col("c")).as("cb"))
    val agree = cont.agg(
      sum(col("c")).as("n"),
      sum(when(col("a") === col("b"), col("c")).otherwise(lit(0L)))
        .as("n_agree"))
    // expected-agreement mass: Σ_k ca(k)·cb(k) over the label space —
    // an equi-join of two label-bounded marginal frames. DECIMAL
    // products: ca·cb is n²-sized, which overflows long for corpora
    // past ~3e9 rows
    val exp = ma.join(mb, col("a") === col("b"))
      .agg(coalesce(
        sum(col("ca").cast("decimal(19,0)") *
          col("cb").cast("decimal(19,0)")),
        lit(0).cast("decimal(38,0)")).as("e_mass"))
    val n2 = col("n").cast("decimal(19,0)") * col("n").cast("decimal(19,0)")
    agree.crossJoin(exp)
      .select(col("n"),
        round(col("n_agree").cast("double") / col("n").cast("double"), 6)
          .as("observed_agreement"),
        round(col("e_mass").cast("double") /
          (col("n").cast("double") * col("n").cast("double")), 6)
          .as("expected_agreement"),
        when(col("e_mass").cast("decimal(38,0)") =!= n2.cast("decimal(38,0)"),
          round((col("n_agree").cast("double") * col("n").cast("double") -
            col("e_mass").cast("double")) /
            (col("n").cast("double") * col("n").cast("double") -
              col("e_mass").cast("double")), 6)).as("kappa"))
  }

  /** Referential-integrity audit: foreign-key values in `child` with
    * no match in `parent` — the orphan check every warehouse health
    * gate runs before joins silently drop rows (an inner join on a
    * broken FK doesn't fail, it shrinks). One summary row:
    * (relationship, n_orphan_keys, n_orphan_rows, n_null_rows) —
    * distinct dangling key values, child rows carrying them, and
    * child rows with a NULL key (reported separately: SQL join
    * semantics already exclude them, so they are a different disease).
    *
    * Scale shape: the child side collapses to its DISTINCT key
    * dictionary WITH per-key row counts first (map-side partial
    * combine — the anti-join then runs on dictionaries, not raw
    * rows); the parent side is its distinct key projection, pruned at
    * the scan. Both sides shuffle once on the key; AQE broadcasts
    * whichever dictionary is small. Union several calls for a whole
    * star schema's audit. */
  def referentialOrphans(child: DataFrame, parent: DataFrame,
                         childKey: String, parentKey: String,
                         relationship: String): DataFrame =
    // ONE child scan: the null group rides the dictionary into the
    // anti-join (an equi-join condition never matches a null key, so
    // the anti-join keeps it alongside the orphans) and the final
    // aggregate splits the two diseases apart
    child.groupBy(col(childKey).as("__k"))
      .agg(count(lit(1)).as("__n"))
      .join(parent.select(col(parentKey).as("__pk")).distinct(),
        col("__k") === col("__pk"), "left_anti")
      .agg(
        count(when(col("__k").isNotNull, lit(1))).as("n_orphan_keys"),
        coalesce(sum(when(col("__k").isNotNull, col("__n"))), lit(0L))
          .as("n_orphan_rows"),
        coalesce(sum(when(col("__k").isNull, col("__n"))), lit(0L))
          .as("n_null_rows"))
      .select(lit(relationship).as("relationship"),
        col("n_orphan_keys"), col("n_orphan_rows"), col("n_null_rows"))

  /** Winsorization — clip a metric column at its corpus quantile
    * fences instead of dropping rows: the robust-statistics default
    * for heavy-tailed features (per-doc perplexity, event values,
    * session lengths) feeding means/regressions that outliers would
    * otherwise own. Emits (id, value, clipped, was_clipped) — the
    * flag makes the clip rate observable (a high rate means the
    * fences, not the data, are wrong).
    *
    * Same two-job shape as [[graft.operators.Curation.filterByQuantile]]:
    * one exact-percentile aggregate to two driver-side scalars, then a
    * narrow scan-speed projection. Thresholds round to 6 decimals
    * (HALF_UP — the cross-engine boundary discipline) so the clip set
    * reproduces externally; null values pass through unclipped with a
    * null flag. */
  def winsorize(df: DataFrame, valueCol: String,
                lo: Double = 0.01, hi: Double = 0.99,
                idCol: String = "event_id"): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi, "need 0 <= lo < hi <= 1")
    val v = col(valueCol).cast("double")
    val row = df.agg(percentile(v, lit(lo)).cast("double"),
      percentile(v, lit(hi)).cast("double")).head
    if (row.isNullAt(0))
      return df.select(col(idCol), v.as("value"), v.as("clipped"),
        when(v.isNotNull, lit(false)).as("was_clipped"))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (tLo, tHi) = (r6(row.getDouble(0)), r6(row.getDouble(1)))
    // least/greatest SKIP nulls in Spark and DuckDB alike — an
    // unguarded clip would turn a null value into the lower fence
    val clipped = when(v.isNotNull, least(greatest(v, lit(tLo)), lit(tHi)))
    df.select(col(idCol), v.as("value"), clipped.as("clipped"),
      when(v.isNotNull, v < tLo || v > tHi).as("was_clipped"))
  }

  /** Key-concentration audit: how much of the table a few key values
    * own. THE corpus-health question for a crawl (does one host
    * dominate training data?), a user-event stream (bot whales), or
    * any FK column (skew the joins will feel). Emits ONE row:
    * (n_keys, n_rows, gini, share_top_1pct, share_top_10pct).
    *
    *   - `gini`: population Gini over per-key counts — 0 = uniform,
    *     ->1 = one key owns everything. Computed from the asc-sorted
    *     counts via the rank identity G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n:
    *     Σ(i·xᵢ) is an exact integer sum (holds while
    *     n_keys·n_rows < 2⁶³), so the only float work is one
    *     fixed-shape formula.
    *   - `share_top_Xpct`: the fraction of rows held by the top
    *     ⌈X%·n_keys⌉ keys (count desc, key asc tie-break).
    *
    * Scale shape: the raw table collapses to its key dictionary in
    * one partial-aggregated groupBy; the global-order windows run on
    * THAT (key-cardinality-sized — the vocab-top precedent), never on
    * raw rows. Null keys count as one key (they're a concentration
    * story too). Displays on the integer-scale 6-decimal lattice. */
  def keyConcentration(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).cast("string").as("__k"))
      .agg(count(lit(1)).as("cnt"))
    // r17 (guide §2 — no unpartitioned windows): the asc rank comes
    // from a RANGE-PARTITIONED two-pass rank — per-partition
    // row_number plus broadcast per-partition offsets — so no single
    // task ever sorts the whole key dictionary (at 100 TB a
    // high-cardinality key column makes the dictionary itself
    // billions of rows). The partition id is pinned by ONE
    // materialization (range sampling must not re-draw between the
    // offsets pass and the rank pass). The former desc rank is
    // derived as nk+1−ra: within a count tie every aggregate below
    // sums the same cnt values whichever tie-break wins, so
    // gini/topShare are bit-identical to the two-window form.
    val parted = counts
      .repartitionByRange(col("cnt").asc, col("__k").asc_nulls_first)
      .withColumn("pid", spark_partition_id())
      .truncateLineage(false)
    // per-partition sizes to the driver — bounded by the shuffle
    // partition count, never data-sized (the skipGramNegatives
    // bucket-offset precedent); nk rides as a literal
    val sizes = parted.groupBy(col("pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val nk = sizes.map(_._2).sum
    val offsSeq = sizes.map(_._1)
      .zip(sizes.map(_._2).scanLeft(0L)(_ + _).init)
    val spark0 = df.sparkSession
    import spark0.implicits._
    val offs = offsSeq.toSeq.toDF("pid", "off")
    val wLoc = Window.partitionBy(col("pid"))
      .orderBy(col("cnt").asc, col("__k").asc_nulls_first)
    val ranked = parted
      .join(broadcast(offs), Seq("pid"))
      .withColumn("ra",
        (col("off") + row_number().over(wLoc)).cast("long"))
      .withColumn("nk", lit(nk))
    def disp(c: Column): Column =
      round(c * lit(1e6)).cast("double") / lit(1e6)
    def topShare(frac: Double): Column =
      sum(when(col("nk") - col("ra") + lit(1L) <=
          ceil(lit(frac) * col("nk")), col("cnt")))
        .cast("double") / sum(col("cnt")).cast("double")
    ranked.agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("n_rows"),
        sum(col("ra") * col("cnt")).as("s"),
        topShare(0.01).as("t1"),
        topShare(0.10).as("t10"))
      .select(col("n_keys"), col("n_rows"),
        disp(lit(2.0) * col("s").cast("double") /
          (col("n_keys").cast("double") * col("n_rows").cast("double")) -
          (col("n_keys") + 1).cast("double") / col("n_keys").cast("double"))
          .as("gini"),
        disp(col("t1")).as("share_top_1pct"),
        disp(col("t10")).as("share_top_10pct"))
  }

  /** Benford first-significant-digit test — the forensic data-quality
    * tripwire for naturally-occurring magnitude columns (amounts,
    * populations, counts): organic multi-order-of-magnitude data leads
    * with digit d at frequency log10(1 + 1/d) (~30% ones), while
    * fabricated, capped, or default-filled values flatten or spike the
    * curve. A large chi-square against the Benford expectation flags a
    * column whose generation process changed — the classic audit
    * signal (Benford 1938, Nigrini's accounting application).
    *
    * The digit comes from the value's STRING form (first [1-9] char) —
    * exact for decimal/integer columns, whose rendering is identical
    * across engines; binary doubles render engine-dependently, so cast
    * or round them upstream. Zero/null/digitless rows are excluded
    * from n. All 9 digit rows always emit (absent digits count 0 —
    * their expected mass still enters chi2).
    *
    * Numerics: expected fraction is ln(1+1/d)/ln(10) — the ln shape
    * both engines evaluate bit-identically (the LM-score precedent;
    * log10 libm variants do NOT carry that guarantee). Per-digit chi2
    * terms round to 9 decimals and sum as DECIMAL (order-independent),
    * fractions display via integer-scale rounding. One count aggregate
    * over the scan + a 9-row frame — nothing else touches the data.
    *
    * Emits 9 rows: (digit, cnt, obs_frac, exp_frac, chi2) with chi2
    * the (constant) whole-column statistic. Degenerate input (no
    * parseable first digit anywhere — empty table, all null/zero)
    * still emits the 9 digit rows with cnt 0 and NULL obs_frac/chi2
    * rather than NaN/Infinity from the n = 0 division. */
  def benfordTest(df: DataFrame, valueCol: String): DataFrame = {
    val digit = regexp_extract(col(valueCol).cast("string"), "[1-9]", 0)
    val counts = df
      .select(when(digit =!= "", digit.cast("int")).as("digit"))
      .filter(col("digit").isNotNull)
      .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
    val digits = counts.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val n = sum(col("cnt")).over(Window.partitionBy())
    val expFrac = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
      log(lit(10.0))
    val expCnt = n.cast("double") * expFrac
    val term = (col("cnt").cast("double") - expCnt) *
      (col("cnt").cast("double") - expCnt) / expCnt
    def disp(c: Column): Column =
      round(c * lit(1e6)).cast("double") / lit(1e6)
    digits.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .select(col("digit"), col("cnt"),
        when(n > 0,
          disp(col("cnt").cast("double") / n.cast("double")))
          .as("obs_frac"),
        disp(expFrac).as("exp_frac"),
        when(n > 0, round(term, 9).cast("decimal(38,9)")).as("t9"))
      .withColumn("chi2",
        // round the DECIMAL (exact in any engine), THEN cast — a
        // double-side fractional round could land on a repr boundary
        round(sum(col("t9")).over(Window.partitionBy()), 6)
          .cast("double"))
      .drop("t9")
  }

  /** Welch's unequal-variance t-test between two named groups — the
    * A/B readout for data-recipe experiments (did the new filter
    * change mean document quality? is source X's value distribution
    * different from source Y's?). Welch, not Student: corpus groups
    * rarely share a variance, and Welch is the safe default
    * (Delacre 2017).
    *
    * Exactness discipline: values quantize to a `10^scale` integer
    * lattice; per-group n / Σv / Σv² accumulate as longs (the sum of
    * squares in DIV/% hi-lo halves against overflow — the
    * correlationMatrix discipline) so the MOMENTS are exact and
    * partition-order-independent; the handful of double ops deriving
    * (mean, var, t, Welch–Satterthwaite df) from those exact moments
    * have a fixed expression shape, so any engine reproduces them
    * bit-for-bit. One grouped aggregate + one fold to a single row;
    * in-plan guards raise on lattice overflow or n < 2. */
  def welchTTest(df: DataFrame, valueCol: String, groupCol: String,
                 groupA: String, groupB: String,
                 scale: Int = 4): DataFrame = {
    require(groupA != groupB, "groupA and groupB must differ")
    require(scale >= 0 && scale <= 6, "scale must be in [0, 6]")
    val unit = math.pow(10.0, scale)
    val split = 1000000000L
    val clean = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast("double")))
      .select(col(groupCol).as("g"),
        round(col(valueCol).cast("double") * lit(unit)).cast("long")
          .as("v"))
    val perGroup = clean.groupBy(col("g")).agg(
      count(lit(1)).as("n"), sum(col("v")).as("s"),
      max(abs(col("v"))).as("mx"),
      sum(expr(s"(v * v) DIV $split")).as("ph"),
      sum(expr(s"(v * v) % $split")).as("pl"))
    def side(gv: String, tag: String) = Seq(
      max(when(col("g") === gv, col("n"))).as(s"n_$tag"),
      max(when(col("g") === gv, col("s"))).as(s"s_$tag"),
      max(when(col("g") === gv, col("mx"))).as(s"mx_$tag"),
      max(when(col("g") === gv, col("ph"))).as(s"ph_$tag"),
      max(when(col("g") === gv, col("pl"))).as(s"pl_$tag"))
    val aggs = side(groupA, "a") ++ side(groupB, "b")
    val one = perGroup.agg(aggs.head, aggs.tail: _*)
    def d(c: Column) = c.cast("decimal(38,0)")
    def nT(t: String) = col(s"n_$t")
    // exact Σv² from the halves; exact n·Σv² − (Σv)²
    def varNum(t: String): Column =
      d(nT(t)) * (d(lit(split)) * d(col(s"ph_$t")) + d(col(s"pl_$t"))) -
        d(col(s"s_$t")) * d(col(s"s_$t"))
    // fixed double shapes from the exact moments
    def mean(t: String): Column =
      col(s"s_$t").cast("double") /
        (nT(t).cast("double") * lit(unit))
    def variance(t: String): Column =
      varNum(t).cast("double") /
        (nT(t).cast("double") * (nT(t).cast("double") - lit(1.0))) /
        (lit(unit) * lit(unit))
    def se2(t: String): Column = variance(t) / nT(t).cast("double")
    // n bound: with |v| < 1e9, Σv and each hi/lo half accumulate
    // terms ≤ 1e9 — beyond ~9.2e9 rows per group the long sums would
    // overflow SILENTLY (non-ANSI). Fail loudly like the lattice
    // guard instead; 9e9 keeps a margin under Long.Max/1e9.
    val nMax = 9000000000L
    val guard = assert_true(
      Seq("a", "b").map(t => nT(t).isNotNull && nT(t) >= 2 &&
          nT(t) <= lit(nMax) &&
          col(s"mx_$t") >= lit(0L) && col(s"mx_$t") < lit(split))
        .reduce(_ && _),
      lit(s"welchTTest: both groups need 2 <= n <= 9e9 and " +
        s"|value|*10^$scale below 1e9 - lower `scale` or pre-scale " +
        "the column"))
    val sTot = se2("a") + se2("b")
    val tStat = (mean("a") - mean("b")) / sqrt(sTot)
    val dfW = (sTot * sTot) / (
      se2("a") * se2("a") / (nT("a").cast("double") - lit(1.0)) +
        se2("b") * se2("b") / (nT("b").cast("double") - lit(1.0)))
    def disp(c: Column): Column =
      round(c * lit(1e6)).cast("double") / lit(1e6)
    one.select(
      when(guard.isNull, lit(groupA)).as("group_a"),
      lit(groupB).as("group_b"),
      nT("a").as("n_a"), nT("b").as("n_b"),
      disp(mean("a")).as("mean_a"), disp(mean("b")).as("mean_b"),
      disp(tStat).as("t_stat"), disp(dfW).as("df_welch"))
  }

  /** Two-proportion z-test (pooled) between two named groups — the
    * conversion-rate companion of [[welchTTest]]: did the new recipe
    * change the keep-rate of the quality gate? does source X convert
    * readers differently from source Y? Inputs are a boolean success
    * column, so every moment is an EXACT integer count — no lattice
    * needed; the z statistic's double derivation has a fixed shape
    * from (n_a, k_a, n_b, k_b). One grouped aggregate + one fold;
    * in-plan guards raise when a group is missing/empty or the
    * pooled rate is degenerate (0 or 1 — z undefined). */
  def proportionZTest(df: DataFrame, successCol: String,
                      groupCol: String, groupA: String,
                      groupB: String): DataFrame = {
    require(groupA != groupB, "groupA and groupB must differ")
    val perGroup = df
      .filter(col(groupCol).isin(groupA, groupB) &&
        col(successCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"),
        sum(col(successCol).cast("boolean").cast("long")).as("k"))
    def side(gv: String, tag: String) = Seq(
      max(when(col("g") === gv, col("n"))).as(s"n_$tag"),
      max(when(col("g") === gv, col("k"))).as(s"k_$tag"))
    val aggs = side(groupA, "a") ++ side(groupB, "b")
    val one = perGroup.agg(aggs.head, aggs.tail: _*)
    def nD(t: String) = col(s"n_$t").cast("double")
    def rate(t: String) = col(s"k_$t").cast("double") / nD(t)
    val pooled = (col("k_a") + col("k_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val guard = assert_true(
      col("n_a").isNotNull && col("n_b").isNotNull &&
        col("n_a") >= 1 && col("n_b") >= 1 &&
        pooled > lit(0.0) && pooled < lit(1.0),
      lit("proportionZTest: both groups need n >= 1 and the pooled " +
        "rate must be in (0, 1)"))
    val z = (rate("a") - rate("b")) /
      sqrt(pooled * (lit(1.0) - pooled) *
        (lit(1.0) / nD("a") + lit(1.0) / nD("b")))
    def disp(c: Column): Column =
      round(c * lit(1e6)).cast("double") / lit(1e6)
    one.select(
      when(guard.isNull, lit(groupA)).as("group_a"),
      lit(groupB).as("group_b"),
      col("n_a"), col("k_a"), col("n_b"), col("k_b"),
      disp(rate("a")).as("rate_a"), disp(rate("b")).as("rate_b"),
      disp(z).as("z_stat"))
  }

  /** Chi-square test of independence + Cramér's V between two
    * categorical columns — "is event type independent of the
    * above-median flag?", "does source correlate with language?":
    * the categorical companion of [[welchTTest]]/[[proportionZTest]]
    * and the corpus-composition drift tripwire.
    *
    * Exactness: observed cells are one integer-count aggregate; all
    * remaining work runs on that BOUNDED cell frame (margins via
    * windows over cells, never the corpus). Zero cells still
    * contribute their expectation — handled in closed form:
    * Σ_missing e = n − Σ_observed e, so the unobserved combinations
    * never materialize. Per-cell terms round to 9 decimals and sum
    * as DECIMAL (order-independent, the benfordTest discipline);
    * df = (r−1)(c−1); V = sqrt(χ²/(n·(min(r,c)−1))). An in-plan
    * guard raises when either column is constant (df 0 — the test is
    * undefined). Output: one row (n, n_cells, df, chi2, cramers_v). */
  def chiSquareIndependence(df: DataFrame, colA: String,
                            colB: String): DataFrame = {
    val cells = df
      .filter(col(colA).isNotNull && col(colB).isNotNull)
      .groupBy(col(colA).cast("string").as("a"),
        col(colB).cast("string").as("b"))
      .agg(count(lit(1)).as("o"))
    val wa = Window.partitionBy(col("a"))
    val wb = Window.partitionBy(col("b"))
    val wAll = Window.partitionBy()
    val withM = cells
      .withColumn("ra", sum(col("o")).over(wa))
      .withColumn("cb", sum(col("o")).over(wb))
      .withColumn("n", sum(col("o")).over(wAll))
      .withColumn("r", size(collect_set(col("a")).over(wAll)))
      .withColumn("c", size(collect_set(col("b")).over(wAll)))
    val e = col("ra").cast("double") * col("cb").cast("double") /
      col("n").cast("double")
    val term = (col("o").cast("double") - e) * (col("o").cast("double") - e) / e
    val agg = withM.select(col("o"), col("n"), col("r"), col("c"),
        round(term, 9).cast("decimal(38,9)").as("t9"),
        round(e, 9).cast("decimal(38,9)").as("e9"))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("t9")).as("tsum"), sum(col("e9")).as("esum"))
    val guard = assert_true(col("r") >= 2 && col("c") >= 2,
      lit("chiSquareIndependence: both columns need >= 2 distinct " +
        "values (df would be 0)"))
    // observed terms + the closed-form zero-cell mass (n − Σ_obs e),
    // both rounded on the DECIMAL side before the double cast
    val chi2 = (col("tsum") +
      (col("n").cast("decimal(38,9)") - col("esum"))).cast("double")
    def disp(c: Column): Column =
      round(c * lit(1e6)).cast("double") / lit(1e6)
    agg.select(
      when(guard.isNull, col("n")).as("n"),
      col("n_cells"),
      ((col("r") - 1) * (col("c") - 1)).as("df_degrees"),
      disp(chi2).as("chi2"),
      disp(sqrt(chi2 / (col("n").cast("double") *
        (least(col("r"), col("c")) - 1).cast("double"))))
        .as("cramers_v"))
  }

  /** k-anonymity audit — the privacy-governance companion of
    * `TextAnalysis.scrubPii`: scrubbing removes direct identifiers,
    * but a row can still be re-identified when its QUASI-identifier
    * combination (location × segment × a banded numeric, Sweeney
    * 2002) is shared by fewer than k rows. Returns the violating
    * combinations with their group sizes — output ∝ violations
    * (what a release review acts on), never the corpus. Generalize
    * continuous quasi-identifiers into bands upstream (a raw value
    * makes every row its own group and the report useless).
    *
    * Scale shape: one hash aggregate keyed by the quasi-identifier
    * columns (partial map-side), then a size filter. Nulls group as
    * values, matching the suppression join below. */
  def kAnonymityViolations(df: DataFrame, quasiCols: Seq[String],
                           k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(k >= 2, "k must be >= 2 (k = 1 never violates)")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
  }

  /** Suppression to k-anonymity: keep only rows whose
    * quasi-identifier combination appears ≥ k times — the release
    * gate [[kAnonymityViolations]] audits for. One aggregate over
    * the quasi columns plus one null-safe (`<=>`) semi join back;
    * the combo frame is bounded by the distinct-combination count,
    * so the join broadcasts whenever the banding upstream did its
    * job. Suppression (dropping violators) is deterministic and
    * engine-replicable, unlike pick-one-row-per-group masking. */
  def suppressBelowK(df: DataFrame, quasiCols: Seq[String],
                     k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(k >= 2, "k must be >= 2 (k = 1 keeps everything)")
    val combos = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= k)
      .select(quasiCols.map(c => col(c).as(s"__q_$c")): _*)
    val cond = quasiCols.map(c => col(c) <=> col(s"__q_$c"))
      .reduce(_ && _)
    df.join(combos, cond, "left_semi")
  }

  // ---- mergeable distinct-count registers (HLL on the house md5
  // hash) — the cardinality member of the persisted shard family
  // (profile / quantile / cardinality). The KMV sketch
  // (`TextAnalysis.approxDistinctTokens`) answers the same question
  // in one aggregate; the register form exists for the INCREMENTAL
  // story: per-shard registers persist to parquet and combine later
  // by max — exactly mergeable, so merged == direct bit-for-bit and
  // appending a shard never rescans the corpus. ----

  /** Registers must sum 2^(49−r) exactly in a LONG: with m = 2^b
    * buckets the absent-bucket mass is m·2^49, which overflows past
    * b = 12 — hence the {8, 12} whitelist (m = 256 / 4096; standard
    * error 6.5% / 1.6%) for the Stats sketch surface. This guard
    * covers only Stats' own public entry points; the shared
    * [[hllRegisterRows]] core is also called by
    * `Graph.hyperBallEstimates` under ITS {4, 8} whitelist — b = 4
    * (m = 16) is equally overflow-safe (smaller m only lowers the
    * absent-bucket mass) and keeps the per-edge register fan-out
    * small, which matters there and not here. */
  private def requireHllB(b: Int): Unit =
    require(b == 8 || b == 12, "b must be 8 or 12 (m = 256 or 4096)")

  /** Per-row HLL register entries for ALL requested columns in ONE
    * corpus scan: each row explodes to k (column, bucket, rho)
    * structs — at 100 TB, k separate per-column scans would k-tuple
    * the dominant cost. Hash = the house md5 (engine-replicable);
    * bucket = the first b bits (hex prefix), rank word = the NEXT 48
    * bits, rho by exact integer string-length logic
    * (`length(bin(w))` — no float log2 at bin boundaries). A null
    * value null-propagates through md5 → bucket/rho and its entry
    * drops — no conditional branches, so codegen CSEs the one md5
    * per column. `passthrough` columns (shard keys) ride along. */
  private[operators] def hllRegisterRows(df: DataFrame,
                                         cols: Seq[String], b: Int,
                                         passthrough: Seq[String] = Nil)
      : DataFrame = {
    val hexChars = b / 4
    val entries = cols.map { c =>
      val h = md5(col(c).cast("string"))
      val bucket = conv(substring(h, 1, hexChars), 16, 10).cast("int")
      val w = conv(substring(h, hexChars + 1, 12), 16, 10).cast("long")
      val rho = when(w === 0L, lit(49))
        .otherwise(lit(49) - length(bin(w))).cast("int")
      struct(lit(c).as("column"), bucket.as("bucket"), rho.as("rho"))
    }
    df.select(passthrough.map(col) :+
        explode(array(entries: _*)).as("__e"): _*)
      .select(passthrough.map(col) ++ Seq(col("__e.column"),
        col("__e.bucket"), col("__e.rho")): _*)
      .filter(col("rho").isNotNull)
  }

  /** The fixed-shape HLL estimate from an aggregated register row
    * (n_reg, s_present): Σ 2^−r scaled by 2^49 so the sum is EXACT
    * integer arithmetic (registers contribute 2^(49−r), absent
    * buckets 2^49 each), then the standard alpha·m²/S with the
    * small-range linear-counting correction — every double op has a
    * fixed expression shape, so an external engine reproduces the
    * estimate digit-for-digit. */
  private def hllEstimate(b: Int): Column =
    hllEstimateUnits(b).cast("double") / lit(1e6)

  /** The estimate on the 1e-6 integer lattice (×1e6, rounded, as a
    * long) — what [[Graph.harmonicCentrality]]'s per-radius ball
    * differences sum exactly. */
  private[operators] def hllEstimateUnits(b: Int): Column = {
    val m = 1 << b
    val mD = lit(m.toDouble)
    val alpha = 0.7213 / (1.0 + 1.079 / m.toDouble)
    val sTotal = (col("s_present") +
      (lit(m.toLong) - col("n_reg")) * lit(1L << 49)).cast("double")
    val vZero = (lit(m.toLong) - col("n_reg")).cast("double")
    val eRaw = lit(alpha) * mD * mD * lit((1L << 49).toDouble) / sTotal
    val est = when(eRaw <= lit(2.5) * mD && vZero > 0,
      mD * log(mD / vZero)).otherwise(eRaw)
    round(est * lit(1e6)).cast("long")
  }

  /** Approximate distinct count per column — one row each: (column,
    * n_registers, estimate). ONE corpus scan covers every column
    * (per-row register explode), and the only exchange is the
    * ≤ m-rows-per-column register aggregate (map-side combined), so
    * the shuffle is flat in corpus size — the property that makes
    * `count(DISTINCT high_card_col)`'s full-width exchange avoidable
    * at 100 TB. */
  def approxDistinct(df: DataFrame, cols: Seq[String],
                     b: Int = 12): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    require(cols.distinct.size == cols.size, "duplicate columns")
    requireHllB(b)
    hllRegisterRows(df, cols, b)
      .groupBy(col("column"), col("bucket"))
      .agg(max(col("rho")).as("r"))
      .groupBy(col("column"))
      .agg(count(lit(1)).as("n_reg"),
        sum(expr("shiftleft(cast(1 as bigint), 49 - r)"))
          .as("s_present"))
      .select(col("column"),
        col("n_reg").cast("long").as("n_registers"),
        hllEstimate(b).as("estimate"))
  }

  /** Persist per-shard HLL registers: rows (column, shardCols...,
    * bucket, r, __b). One corpus scan covers every column; register
    * count is bounded by m per (column, shard) — the parquet IS the
    * sketch; appending a new shard later is one more bounded
    * register group, never a corpus rescan. */
  def writeCardinalityShards(df: DataFrame, path: String,
                             cols: Seq[String],
                             shardCols: Seq[String],
                             b: Int = 12): Unit = {
    require(cols.nonEmpty, "cols must be non-empty")
    require(cols.distinct.size == cols.size, "duplicate columns")
    require(shardCols.nonEmpty, "shardCols must be non-empty")
    // the register rows own these names; a passthrough shard column
    // reusing one would silently shadow the sketch fields
    val reserved = shardCols.toSet
      .intersect(Set("column", "bucket", "rho", "r", "__b"))
    require(reserved.isEmpty,
      "writeCardinalityShards: shardCols may not use reserved " +
        s"register-field names ${reserved.toSeq.sorted.mkString(", ")}")
    requireHllB(b)
    hllRegisterRows(df, cols, b, passthrough = shardCols)
      .groupBy(shardCols.map(col) ++
        Seq(col("column"), col("bucket")): _*)
      .agg(max(col("rho")).as("r"))
      .withColumn("__b", lit(b))
      .write.mode("overwrite").parquet(path)
  }

  /** Combine persisted cardinality shards into corpus-level distinct
    * estimates without touching the original data: registers merge
    * by MAX per (column, bucket) — exactly mergeable, so the merged
    * estimate is bit-identical to a direct [[approxDistinct]] pass
    * over the union of the shards' rows. An in-plan guard raises if
    * the store's precision differs from `b` (mixed-precision
    * registers would merge into silent garbage). */
  def cardinalityFromShards(spark: SparkSession, path: String,
                            cols: Seq[String],
                            b: Int = 12): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    requireHllB(b)
    val store = spark.read.parquet(path)
    // a column the store never sketched must error by name, not
    // silently vanish from the output (bounded: the store's distinct
    // column list is ≤ its sketched-column count)
    val present = store.select(col("column")).distinct()
      .collect().map(_.getString(0)).toSet
    val absent = cols.filterNot(present)
    require(absent.isEmpty,
      s"cardinalityFromShards: store at $path has no registers for " +
        s"${absent.mkString(", ")}; sketched: " +
        present.toSeq.sorted.mkString(", "))
    val reg = store.filter(col("column").isin(cols: _*))
    // precision must survive the bucket-level merge as BOTH bounds:
    // max-only would let a low-precision register hide behind a
    // high-precision one sharing its bucket id (bucket ids overlap
    // across precisions), defeating the guard below
    val merged = reg
      .groupBy(col("column"), col("bucket"))
      .agg(max(col("r")).as("r"),
        min(col("__b")).as("__bmin0"), max(col("__b")).as("__bmax0"))
      .groupBy(col("column"))
      .agg(count(lit(1)).as("n_reg"),
        sum(expr("shiftleft(cast(1 as bigint), 49 - r)"))
          .as("s_present"),
        min(col("__bmin0")).as("__bmin"), max(col("__bmax0")).as("__bmax"))
    merged.select(
      when(assert_true(col("__bmin") === lit(b) &&
          col("__bmax") === lit(b),
        lit(s"cardinalityFromShards: store precision differs from " +
          s"b=$b")).isNull, col("column")).as("column"),
      col("n_reg").cast("long").as("n_registers"),
      hllEstimate(b).as("estimate"))
  }
}
