package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-curation operators for training-data pipelines: reproducible
  * sampling and token-budget sequence packing.
  *
  * Everything here is DETERMINISTIC — a re-run, a task retry, or a
  * different partitioning yields byte-identical output (no `rand()`,
  * which reassigns rows on retry — same failure class as positional
  * salts, SPARK-23207). Randomness comes from content hashes instead. */
object Curation {

  private def hashKey(cols: Seq[String]): Column =
    md5(concat_ws("\u0000", cols.map(c => col(c).cast("string")): _*))

  /** Exact-fraction stratified sample: within each stratum, rows are
    * ranked by a content hash (uniform pseudo-order) and the first
    * ⌈fraction·n⌉ are kept — every stratum is represented at exactly the
    * requested rate, reproducibly.
    *
    * Cost: one shuffle + per-stratum sort (the price of exactness).
    * When strata are huge and exact counts don't matter, use
    * [[sampleByHashThreshold]] — a pure scan. */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String],
                       fraction: Double, keyCols: Seq[String]): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0, 1]")
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(hashKey(keyCols) +: keyCols.map(col): _*)
    val n = Window.partitionBy(strataCols.map(col): _*)
    df.withColumn("__rnk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(n))
      .filter(col("__rnk") <= ceil(col("__n") * fraction))
      .drop("__rnk", "__n")
  }

  /** Deterministic named split assignment (train/val/test): each row's
    * content hash places it in exactly one split, with sizes
    * proportional to integer `parts` (e.g. train 90, val 5, test 5).
    * Row-local — a narrow projection at parquet-scan speed, retry- and
    * repartition-stable, and engine-reproducible because the bucketing
    * is PURE INTEGER math: the hash's first 48 bits are scaled by
    * total-parts and floor-divided by 2⁴⁸, so there is no float
    * boundary for two engines to disagree on. Stable under re-runs:
    * a row's split never changes unless the parts themselves change.
    * Returns the input plus a `split` column. */
  def splitByHash(df: DataFrame, splits: Seq[(String, Long)],
                  keyCols: Seq[String]): DataFrame = {
    require(splits.nonEmpty, "splits must be non-empty")
    require(splits.forall(_._2 > 0), "every split needs parts > 0")
    val total = splits.map(_._2).sum
    // u48 * total must stay < 2^63 (Spark / in SQL is DOUBLE division,
    // so the bucket uses an exact shift instead)
    require(total <= (1L << 14), "total parts must fit 2^14 (hash is 48-bit)")
    val bucket = shiftright(
      conv(substring(hashKey(keyCols), 1, 12), 16, 10).cast("long") * total,
      48)
    val cum = splits.scanLeft(0L)(_ + _._2).tail
    val expr = splits.zip(cum).dropRight(1).foldRight(
      lit(splits.last._1): Column) { case (((name, _), c), acc) =>
      when(bucket < c, name).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * never straddle a split boundary (a test doc with a training-set
    * near-copy silently inflates eval — the contamination mode Lee 2021
    * §6 measures), so the unit of assignment is the near-dup CLUSTER,
    * not the document. Given the corpus and a near-dup pair table
    * (id_a, id_b — any of the dedup family's outputs), documents are
    * grouped by connected component and the whole component is hashed
    * into one split; unclustered documents hash by their own id, which
    * keeps the assignment identical to [[splitByHash]] wherever no
    * duplicate exists.
    *
    * Cost beyond the pair table: the min-label component propagation
    * ([[Dedup.nearDupClusters]] — rounds = cluster diameter, shallow
    * for near-dup graphs) plus one broadcast-or-shuffle left join of
    * the skinny (id, cluster_id) frame; the split itself stays a
    * narrow integer-hash projection. Returns the input plus a `split`
    * column. */
  def splitByCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                     splits: Seq[(String, Long)]): DataFrame = {
    val clusters = Dedup.nearDupClusters(pairs)
      .select(col("id").as(idCol), col("cluster_id"))
    val keyed = df.join(clusters, Seq(idCol), "left")
      .withColumn("__grp",
        coalesce(col("cluster_id"), col(idCol)).cast("long"))
      .drop("cluster_id")
    splitByHash(keyed, splits, Seq("__grp")).drop("__grp")
  }

  /** Resample a corpus to a target domain mixture — the data-mixing
    * step of training-set assembly ("40% web, 30% code, 30% books"):
    * given desired PROPORTIONS per domain, compute the largest total T
    * the corpus can support (T = min over requested domains of
    * n_d / w_d — the scarcest domain caps the mix), keep
    * ⌊w_d · T⌋ rows per domain, and drop unrequested domains. A
    * requested domain with no rows makes the mixture infeasible and the
    * result empty.
    *
    * Only weight RATIOS matter — (0.5, 0.3, 0.2) and (5, 3, 2) produce
    * the same mix — so weights are used RAW, never normalized: dividing
    * by a float sum would shift every boundary by an ulp and make
    * ⌊w_d · T⌋ engine-dependent.
    *
    * Selection within a domain is the same deterministic content-hash
    * rank as [[stratifiedSample]] (exact counts, retry-stable,
    * engine-reproducible). Driver work is one count per domain —
    * bounded metadata, like IVF centroids. Cost: one count aggregate +
    * one ranked shuffle keyed by domain. */
  def resampleToMixture(df: DataFrame, domainCol: String,
                        targetWeights: Map[String, Double],
                        keyCols: Seq[String]): DataFrame = {
    require(targetWeights.nonEmpty, "targetWeights must be non-empty")
    // count only the REQUESTED domains: the driver dictionary is then
    // bounded by |targetWeights| regardless of how many distinct
    // domains the corpus holds (unrequested domains are dropped by
    // the mix anyway, so their counts were dead weight)
    resampleWithCounts(df, domainCol, targetWeights,
      df.filter(col(domainCol).isin(targetWeights.keys.toSeq: _*))
        .groupBy(col(domainCol)).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap, keyCols)
  }

  /** [[resampleToMixture]] with the per-domain counts already in hand —
    * lets [[resampleByTemperature]] derive its weights from the SAME
    * single count aggregation instead of scanning the corpus twice. */
  private def resampleWithCounts(df: DataFrame, domainCol: String,
                                 targetWeights: Map[String, Double],
                                 counts: Map[String, Long],
                                 keyCols: Seq[String]): DataFrame = {
    require(targetWeights.nonEmpty, "targetWeights must be non-empty")
    require(targetWeights.values.forall(_ >= 0) &&
      targetWeights.values.exists(_ > 0),
      "weights must be >= 0 with at least one > 0")
    val norm = targetWeights.filter { case (_, w) => w > 0 }
    val total = norm.map { case (d, w) => counts.getOrElse(d, 0L) / w }.min
    val keep = norm.map { case (d, w) =>
      d -> math.floor(w * total).toLong }
    val keepExpr = map(keep.toSeq.flatMap {
      case (d, k) => Seq(lit(d), lit(k)) }: _*)
    val w = Window.partitionBy(col(domainCol))
      .orderBy(hashKey(keyCols) +: keyCols.map(col): _*)
    df.withColumn("__rnk", row_number().over(w))
      // element_at is null for unrequested domains: the filter drops them
      .filter(col("__rnk") <= element_at(keepExpr, col(domainCol)))
      .drop("__rnk")
  }

  /** Temperature-flattened domain mixture — the multilingual/multi-source
    * LM mixing standard (exponential smoothing, cf. mBERT / XLM-R):
    * target weight for domain d is count_d^alpha, i.e. the natural
    * distribution raised to a temperature. `alpha = 1` reproduces the
    * corpus unchanged (weights ∝ counts keep every row — spec-pinned);
    * `alpha → 0` approaches a uniform mix, downsampling head domains
    * hard. Delegates to [[resampleToMixture]] (whose keep computation is
    * scale-invariant in the weights, so the powers need no
    * normalization); driver-side work is one bounded count per domain,
    * exactly like the explicit-weights form. `alpha = 0.5` is the
    * engine-replicable choice for an external oracle: sqrt is correctly
    * rounded under IEEE-754 in every engine, while a general pow may
    * differ in the last ulp across math libraries. */
  def resampleByTemperature(df: DataFrame, domainCol: String, alpha: Double,
                            keyCols: Seq[String],
                            maxDomains: Int = 100000): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(maxDomains > 0, "maxDomains must be positive")
    // temperature weights need EVERY domain's count, so the driver
    // dictionary is only bounded if the domain cardinality is — fail
    // loudly past the cap (the welchTTest-guard discipline) instead
    // of silently OOMing the driver on a high-cardinality column;
    // limit(cap+1) bounds the collect itself, not just the check
    val rows = df.groupBy(col(domainCol)).count()
      .limit(maxDomains + 1).collect()
    require(rows.length <= maxDomains,
      s"resampleByTemperature: more than $maxDomains distinct " +
        s"'$domainCol' values — the per-domain count dictionary " +
        "must stay bounded driver metadata; contract the domain " +
        "first (e.g. registeredDomain) or raise maxDomains " +
        "deliberately")
    val counts = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return df
    // alpha = 0.5 dispatches to sqrt, not pow: Math.sqrt is correctly
    // rounded (the exactness the oracle relies on) while Math.pow is
    // only 1-ulp-accurate and platform-dependent — a last-ulp weight
    // difference could flip a floor() keep count against the oracle
    def weight(n: Long): Double =
      if (alpha == 0.5) math.sqrt(n.toDouble)
      else if (alpha == 1.0) n.toDouble
      else math.pow(n.toDouble, alpha)
    resampleWithCounts(df, domainCol,
      counts.map { case (d, n) => d -> weight(n) }, counts, keyCols)
  }

  /** Shuffle-free deterministic sample: keep rows whose content-hash
    * falls under a threshold prefix. The kept fraction is `fraction` in
    * expectation per stratum (hash-uniform), the decision is purely
    * row-local — a narrow filter at parquet-scan speed, THE form for a
    * 100 TB corpus — and membership is stable: re-sampling at a higher
    * fraction yields a superset (nested samples, the standard trick for
    * growing a training mix without re-drawing it).
    *
    * The hash is compared as a hex string against the fraction scaled
    * into the first 12 hex digits (48 bits — granularity 4e-15);
    * fraction 1.0 keeps every row (no filter at all — a scaled strict-<
    * threshold would drop a row whose prefix equals the max). */
  def sampleByHashThreshold(df: DataFrame, fraction: Double,
                            keyCols: Seq[String]): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0, 1]")
    thresholdHex(fraction) match {
      case None => df
      case Some(t) => df.filter(substring(hashKey(keyCols), 1, 12) < lit(t))
    }
  }

  /** Weighted deterministic sample: each row is kept with probability
    * equal to its own `weight` (clamped to [0, 1]) — the
    * importance/quality weighting of a training mix, e.g. keep
    * high-quality documents always and low-quality ones at a downweighted
    * rate. Row-local like [[sampleByHashThreshold]] (a narrow filter at
    * parquet-scan speed, retry-stable, no `rand()`): the content hash's
    * first 48 bits give the row a uniform u ∈ [0, 1), kept iff
    * u < weight. Monotone per row — raising a weight can only move the
    * row INTO the sample, and weight ≥ 1 always keeps it — so
    * re-weighted mixes nest the same way threshold samples do. */
  def sampleByWeightedHash(df: DataFrame, weight: Column,
                           keyCols: Seq[String]): DataFrame = {
    val u = conv(substring(hashKey(keyCols), 1, 12), 16, 10)
      .cast("double") / 281474976710656.0 // / 2^48
    df.filter(u < least(greatest(weight, lit(0.0)), lit(1.0)))
  }

  /** Soft dedup — duplicate-mass reweighting instead of deletion: each
    * near-dup cluster keeps total expected mass ≈ 1 by sampling every
    * member at weight 1/|cluster| (singletons keep weight 1). The
    * DataComp/DoReMi-style alternative to hard dedup when duplicates
    * carry signal (popularity IS information) but must not dominate
    * the mix — and, composed from [[sampleByWeightedHash]], the keep
    * decision stays deterministic, retry-stable, and monotone in the
    * weight.
    *
    * `clusters` is [[graft.operators.Dedup.nearDupClusters]]' (id,
    * cluster_id) frame. One size aggregate + one id-keyed left join
    * (membership-sized right side — AQE broadcasts when small), then
    * the weighted-hash filter rides the scan. Emits the kept docs +
    * their `weight`. */
  def softDedupSample(docs: DataFrame, clusters: DataFrame,
                      idCol: String = "doc_id"): DataFrame = {
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("__sz"))
    val w = clusters.join(sizes, Seq("cluster_id"))
      .select(col("id").as(idCol),
        (lit(1.0) / col("__sz").cast("double")).as("weight"))
    val joined = docs.join(w, Seq(idCol), "left")
      .withColumn("weight", coalesce(col("weight"), lit(1.0)))
    sampleByWeightedHash(joined, col("weight"), Seq(idCol))
  }

  /** Corpus-relative quality gate: keep rows whose `score` is at or
    * above the corpus `q`-quantile — "drop the bottom 60% by quality"
    * without knowing the score distribution up front.
    *
    * Two jobs by necessity (the threshold depends on the whole corpus):
    * one aggregate producing a single driver-side scalar, then a narrow
    * filter at scan speed. `exact = true` uses the exact interpolated
    * percentile (sort-based — fine into the millions); at 100 TB flip to
    * `exact = false` for `approx_percentile` (one pass, fixed memory,
    * ±accuracy trade documented by Spark). The threshold is rounded to 6
    * decimals so the kept set is reproducible across engines (same
    * discipline as the corpus-rollup percentiles). */
  def filterByQuantile(df: DataFrame, score: Column, q: Double,
                       exact: Boolean = true): DataFrame = {
    require(q >= 0 && q <= 1, "quantile must be in [0, 1]")
    val agg = if (exact) percentile(score, lit(q))
      else percentile_approx(score, lit(q), lit(10000))
    val row = df.agg(agg.cast("double")).head
    if (row.isNullAt(0)) return df // empty corpus: nothing to gate
    // HALF_UP like round() in Spark SQL and DuckDB — rint's half-even
    // would diverge from both on .5 boundaries
    val thr = BigDecimal(row.getDouble(0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    df.filter(score >= thr)
  }

  /** CCNet-style quantile bucketing (Wenzek 2020): label every row by
    * which score band it falls in — the classic head/middle/tail split
    * on a language-model fluency score, where "head" (most fluent)
    * trains first-epoch data and "tail" gets dropped or downweighted.
    * Generalizes to any cut list; labels run low→high band.
    *
    * Thresholds are the exact interpolated percentiles of the score
    * (bounded driver scalars, the [[filterByQuantile]] discipline:
    * rounded to 6 so external engines reproduce the comparison), then
    * banding is a pure scan-speed projection — no join, no window. At
    * 100 TB swap the exact percentile for `percentile_approx`
    * unchanged downstream. */
  def bucketByQuantile(df: DataFrame, score: Column,
                       cuts: Seq[Double] = Seq(1.0 / 3.0, 2.0 / 3.0),
                       labels: Seq[String] =
                         Seq("tail", "middle", "head"),
                       bucketCol: String = "bucket"): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted &&
      cuts.forall(c => c > 0 && c < 1), "cuts must be sorted in (0,1)")
    require(labels.size == cuts.size + 1,
      "need one label per band (cuts.size + 1)")
    val row = df.agg(percentile(score, array(cuts.map(lit): _*))).head
    if (row.isNullAt(0)) return df.withColumn(bucketCol, lit(labels.head))
    val thrs = row.getSeq[Double](0).map(v =>
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    bucketByThresholds(df, score, thrs, labels, bucketCol)
  }

  /** The scan-speed banding gate of [[bucketByQuantile]] against
    * pre-fit thresholds — split out (the fitMad/madGate pattern) so a
    * corpus-fit banding can label a DIFFERENT frame, most usefully an
    * unbounded stream, where it runs unchanged as a stateless
    * projection. */
  def bucketByThresholds(df: DataFrame, score: Column,
                         thresholds: Seq[Double], labels: Seq[String],
                         bucketCol: String = "bucket"): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted,
      "thresholds must be non-empty and sorted")
    require(labels.size == thresholds.size + 1,
      "need one label per band (thresholds.size + 1)")
    val label = thresholds.zip(labels.tail).foldLeft(lit(labels.head)) {
      case (acc, (thr, lab)) => when(score >= thr, lit(lab)).otherwise(acc)
    }
    df.withColumn(bucketCol, label)
  }

  /** Token-budget curriculum selection: within each domain, take
    * documents best-first until the token budget is spent — the
    * "assemble the highest-quality T tokens per domain" step of
    * training-mix construction (a token-denominated quota, where
    * [[resampleToMixture]] is row-denominated).
    *
    * Semantics are PREFIX-of-the-ranked-stream: documents are ordered by
    * (`quality` DESC, `idCol` ASC — the deterministic tie-break) and a
    * document is kept iff the running token total THROUGH ITSELF fits
    * the budget. A single over-budget document therefore ends its
    * domain's intake — by construction the kept set is a contiguous
    * quality prefix (reproducible and engine-checkable), not the
    * NP-hard best-fit packing. Exact integer arithmetic throughout; one
    * shuffle keyed by domain (the window). Returns the kept rows plus
    * their `cum_tokens` running total. */
  def selectByTokenBudget(df: DataFrame, budgetTokens: Long,
                          domainCols: Seq[String], quality: Column,
                          idCol: String, tokens: Column): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val w = Window.partitionBy(domainCols.map(col): _*)
      .orderBy(quality.desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(tokens.cast("long")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
  }

  /** Hashed-token importance weights (the DSIR recipe: Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every raw document by how much more likely its tokens are
    * under the TARGET distribution than under the RAW distribution, both
    * estimated as add-k-smoothed unigram models over `buckets` hash
    * buckets. A positive `log_ratio` marks a document that looks like
    * the trusted target corpus; feed the weights to
    * [[sampleByWeightedHash]] (e.g. `least(exp(log_ratio), 1)`) to
    * resample the corpus toward the target.
    *
    * Hashing tokens into a fixed bucket space keeps both models at
    * exactly `buckets` rows regardless of corpus size — at 100 TB the
    * two count tables broadcast and scoring is a map-side join over the
    * token explode, no vocabulary-sized state anywhere. The bucket hash
    * is an md5 prefix (engine-reproducible, like every sampling hash
    * here). Per-token log-ratios round to 9 decimals and sum as DECIMAL,
    * so weights are summation-order-independent.
    *
    * Output: one row per `df` document — (idCol, n_tokens, log_ratio)
    * with log_ratio rounded to 6 decimals. */
  def importanceWeights(df: DataFrame, target: DataFrame, idCol: String,
                        textCol: String, buckets: Int = 4096,
                        k: Double = 0.5): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(k > 0, "smoothing k must be positive")
    def bucket(tok: Column): Column =
      conv(substring(md5(tok), 1, 12), 16, 10).cast("long") % buckets
    def bucketRows(d: DataFrame, id: Column) = d.select(id.as("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
      .select(col("doc_id"), bucket(col("tok")).as("b"))
    val targetCounts = bucketRows(target, lit(0L))
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val rawRows = bucketRows(df, col(idCol))
    val rawCounts = rawRows.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    // two scalars of bounded metadata (like IVF centroid counts)
    val nt = targetCounts.agg(sum(col("ct"))).head.getLong(0)
    val nr = rawCounts.agg(sum(col("cr"))).head.getLong(0)
    rawRows
      .join(broadcast(targetCounts), Seq("b"), "left")
      .join(broadcast(rawCounts), Seq("b"), "left")
      // each side rounds to 9 decimals and subtracts as DECIMAL (exact),
      // mirroring the oracle's arithmetic bit for bit
      .withColumn("lr",
        round(log((coalesce(col("ct"), lit(0L)) + k) / (nt + k * buckets)), 9)
          .cast("decimal(28,9)") -
        round(log((coalesce(col("cr"), lit(0L)) + k) / (nr + k * buckets)), 9)
          .cast("decimal(28,9)"))
      .groupBy(col("doc_id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(col("lr")).cast("double"), 6).as("log_ratio"))
  }

  /** The 12-hex-digit threshold for `fraction`, or None when the whole
    * corpus qualifies. Public so external oracles (e.g. the harness
    * DuckDB SQL) can embed the byte-identical constant. */
  def thresholdHex(fraction: Double): Option[String] = {
    val scaled = math.round(fraction * 281474976710656.0) // × 2^48
    if (scaled >= 281474976710656L) None else Some(f"$scaled%012x")
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minShared` distinct n-gram shingles with the benchmark set — the
    * standard test-set-contamination sweep run before training.
    *
    * Sub-quadratic by construction: the benchmark's distinct shingles
    * form an inverted index (generally small — benchmarks are), the
    * corpus joins against it shingle-wise, and the count of DISTINCT
    * matching shingles per document is compared to the threshold. At
    * 100 TB the benchmark shingle set broadcasts and the whole sweep is
    * a map-side join over the corpus scan — no corpus×corpus pairing
    * ever happens. Output: (doc_id, n_shared) for flagged docs; feed to
    * an anti-join to drop them. */
  def contaminationFlags(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3, minShared: Int = 5): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    def shingleRows(df: DataFrame) = df.select(
        col(idCol).as("id"),
        explode(TextAnalysis.hashedShingles(col(textCol), n)).as("shingle"))
    val benchShingles = shingleRows(benchmark)
      .select(col("shingle")).distinct()
    shingleRows(corpus)
      .join(broadcast(benchShingles), "shingle")
      .groupBy(col("id").as(idCol))
      .agg(countDistinct(col("shingle")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Token-budget sequence packing: documents are laid end-to-end per
    * shard in a deterministic order and each is assigned to the pack its
    * STARTING token offset falls in — the standard concat-then-chunk
    * assignment of LLM pre-training data prep (a doc overflowing a
    * boundary belongs to the pack it starts in).
    *
    * One shuffle per shard + running-sum window; pack ids are
    * monotonically increasing per shard but can SKIP values when a
    * single document overflows the budget (the next doc starts ≥2 packs
    * later). Output: one row per pack with its size and bounds. */
  def packSequences(docs: DataFrame, budgetTokens: Long,
                    shardCols: Seq[String], idCol: String,
                    textCol: String): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val w = Window.partitionBy(shardCols.map(col): _*)
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tokens = size(split(col(textCol), " ")).cast("long")
    val start = coalesce(sum(tokens).over(w), lit(0L))
    docs
      .withColumn("__tokens", tokens)
      .withColumn("__start", start)
      // exact long floor division (start ≥ 0): avoids double rounding
      .withColumn("pack_id",
        ((col("__start") - pmod(col("__start"), lit(budgetTokens))) /
          budgetTokens).cast("long"))
      .groupBy(shardCols.map(col) :+ col("pack_id"): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tokens")).as("pack_tokens"),
        min(col(idCol)).as("first_doc_id"),
        max(col(idCol)).as("last_doc_id"))
  }

  /** Exact weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006): draw `k` rows with inclusion chances proportional
    * to `weight` — the curation draw "give me 100k docs, favoring
    * quality 3:1" that [[sampleByWeightedHash]]'s independent per-row
    * coin can't express (its output SIZE is random; this one is
    * exactly k). Each row gets the ES key u^(1/w) — ranked here
    * through the monotone-equivalent ln(u)/w, which avoids pow()'s
    * cross-engine last-ulp wobble — and the k largest keys win.
    *
    * Deterministic: u comes from the content hash (retry-safe, no
    * rand()), the key rounds to 9 decimals and ties break on
    * `keyCols`, so the draw replicates in external SQL. Monotone: the
    * key strictly increases in w (ln u < 0), so raising one row's
    * weight can only pull it INTO the sample — re-weighted mixes nest
    * (spec-pinned). Non-positive weights are excluded (ES requires
    * w > 0). Scale shape: a narrow projection + global top-k, which
    * Spark plans as TakeOrderedAndProject — per-partition k-row heaps,
    * no global sort. Returns the k sampled rows, columns unchanged. */
  def sampleWeightedTopK(df: DataFrame, weight: Column, k: Int,
                         keyCols: Seq[String]): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val u = conv(substring(hashKey(keyCols), 1, 12), 16, 10)
      .cast("double") / 281474976710656.0 // / 2^48
    df.filter(weight > 0)
      .withColumn("__es", round(log(u) / weight, 9))
      .orderBy(col("__es").desc +: keyCols.map(col): _*)
      .limit(k)
      .drop("__es")
  }

  /** Per-group deterministic cap: keep at most `n` rows of each group,
    * chosen by content-hash pseudo-order — the anti-domination gate of
    * web-corpus curation (RefinedWeb/C4 both cap per-host document
    * counts: one mirror-farm domain must not become 40% of the mix).
    * Hash order rather than "first n by id" so the kept subset is an
    * unbiased sample of the group, yet fully reproducible (same hash
    * discipline as [[stratifiedSample]]; id tiebreak for equal
    * hashes).
    *
    * Scale shape: one group-keyed window — the shuffle is by the group
    * column and a group's rows sort within their own partition.
    * row_number keeps per-row state O(1); a pathological mega-group
    * (one host = half the corpus) serializes on one task, in which
    * case pre-thin with [[sampleByHashThreshold]] at fraction ≈
    * n/⌈group size⌉ before the exact cap — the hash-threshold sample
    * nests inside the hash-ordered cap, so pre-thinning never changes
    * which rows CAN win, only drops certain losers early. Returns the
    * input rows that survive the cap, columns unchanged. */
  def capPerGroup(df: DataFrame, groupCols: Seq[String], n: Int,
                  keyCols: Seq[String]): DataFrame = {
    require(n >= 0, "cap must be non-negative")
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(hashKey(keyCols) +: keyCols.map(col): _*)
    df.withColumn("__rnk", row_number().over(w))
      .filter(col("__rnk") <= n)
      .drop("__rnk")
  }
}
