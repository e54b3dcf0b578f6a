package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints.TruncateOps

/** Multinomial Naive-Bayes text classification — the quality / domain /
  * language classifier stage of corpus curation (label a trusted split,
  * train, classify the rest of the corpus; the exact-arithmetic
  * stand-in for a fastText-style filter model).
  *
  * Model: P(c | doc) ∝ P(c) · Π_w P(w | c) with add-k smoothing,
  * P(w | c) = (n_{w,c} + k) / (N_c + k·V) over the training vocabulary
  * V; unseen tokens take the smoothing floor against the class's token
  * total. Prediction is the arg-max class with ties broken by label
  * (deterministic).
  *
  * Scale design: training is one exchange — the (label, token) count
  * groupBy; class totals and priors are label-cardinality tables and
  * broadcast. Scoring explodes test tokens, cross-joins the (tiny)
  * label list, and left-joins the likelihood table keyed (token, label)
  * — the model is vocabulary-bounded, never corpus-bounded, so it
  * broadcasts at any corpus scale once the vocabulary is capped (hash
  * the tokens into buckets as [[Curation.importanceWeights]] does if it
  * is not). V and the training row count are the only driver scalars.
  * Per-token log-likelihoods round to 9 decimals and sum as DECIMAL, so
  * scores are summation-order-independent and engine-reproducible (the
  * q_text_lm float discipline).
  *
  * Tokenization is the text stack's shared whitespace tokenizer. */
object TextClassify {

  /** Train on `train` (labelCol, textCol) and classify `test`: one row
    * per test document — (idCol, pred_label, score) where score is the
    * winning class's joint log-likelihood (rounded to 6 decimals).
    * Columns in `keepCols` are carried through from `test`. */
  def naiveBayesClassify(train: DataFrame, test: DataFrame,
                         labelCol: String, idCol: String, textCol: String,
                         k: Double = 0.5,
                         keepCols: Seq[String] = Nil): DataFrame = {
    require(k > 0, "smoothing k must be positive")
    val toks = TextAnalysis.tokens(col(textCol))
    val trainToks = train.select(col(labelCol).as("label"),
      explode(toks).as("token"))
    // likelihood counts are read twice (class totals + the scoring
    // join): one lazy materialization, as LanguageModel does for lm
    val lik = trainToks.groupBy(col("label"), col("token"))
      .agg(count(lit(1)).as("n"))
      .truncateLineage(false)
    val tot = lik.groupBy(col("label")).agg(sum(col("n")).as("tot"))
    // bounded driver scalars: vocabulary size and training doc count
    val v = trainToks.agg(count_distinct(col("token"))).head.getLong(0)
    val nTrain = train.count()
    val priors = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("nd"))
    val testToks = test.select(col(idCol).as("__id"),
      explode(toks).as("token"))
    val scored = testToks
      .crossJoin(broadcast(priors.select(col("label"))))
      .join(lik, Seq("token", "label"), "left")
      // the class total joins separately from the (token, label) count:
      // an unseen token must still be penalized against N_c (the same
      // two-join reasoning as LanguageModel.scoreByBigram)
      .join(broadcast(tot), Seq("label"))
      .withColumn("logp", round(
        log((coalesce(col("n"), lit(0L)) + k) / (col("tot") + k * v)), 9)
        .cast("decimal(28,9)"))
      .groupBy(col("__id"), col("label"))
      .agg(sum(col("logp")).as("s"))
      .join(broadcast(priors), Seq("label"))
      .withColumn("score_dec", col("s") +
        round(log(col("nd").cast("double") / nTrain), 9)
          .cast("decimal(28,9)"))
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("score_dec").desc, col("label"))
    val pred = scored
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("__id").as(idCol), col("label").as("pred_label"),
        round(col("score_dec").cast("double"), 6).as("score"))
    if (keepCols.isEmpty) pred
    else pred.join(test.select(col(idCol) +: keepCols.map(col): _*),
      Seq(idCol))
  }

  /** Character n-grams of `text` as an array column: positions
    * 1..len-n+1, each a full n-char slice (empty array when the text is
    * shorter than n — guarded because Spark's `sequence(1, 0)` counts
    * DOWN, not empty). */
  /** Chi-square token–label association (one-vs-rest): the classic
    * feature-selection pass before training a curation classifier —
    * which tokens are evidence FOR each label (domain markers,
    * language function words, spam vocabulary). For each (token,
    * label) with token document frequency ≥ `minDf`, the 2×2
    * presence/label contingency table yields
    * χ² = N·(n11·n00 − n10·n01)² / ((n11+n10)(n01+n00)(n11+n01)(n10+n00)),
    * reported for the top `topN` tokens per label.
    *
    * Scale shape: one (doc, token)-distinct pass into a (token, label)
    * count groupBy — the only corpus-sized shuffles; token and label
    * marginals join back keyed by token / broadcast by label, so every
    * cell count derives from exact integers and the single double
    * formula has identical shape externally. The per-label top-N rank
    * runs over label-cardinality × vocabulary rows, bounded by
    * construction. Cross-cell products stay exact in doubles while
    * n < 2²⁶ per side (the 2⁵³ mantissa); past that, pre-scale to
    * rates. Ties break (χ² desc, token asc). */
  def chiSquareTokens(docs: DataFrame, labelCol: String,
                      textCol: String = "text", idCol: String = "doc_id",
                      topN: Int = 10, minDf: Int = 5): DataFrame = {
    require(topN >= 1 && minDf >= 1, "need topN >= 1, minDf >= 1")
    val nTotal = docs.count()
    val present = docs.select(col(idCol).as("id"),
        col(labelCol).as("label"),
        explode(array_distinct(TextAnalysis.tokens(col(textCol))))
          .as("w"))
    val cellCounts = present.groupBy(col("w"), col("label"))
      .agg(count(lit(1)).as("n11"))
    val tokTotals = cellCounts.groupBy(col("w"))
      .agg(sum(col("n11")).as("nt"))
      // corpus-universal tokens (nt = N) carry no signal and would
      // zero the denominator — excluded, like the df floor
      .filter(col("nt") >= minDf && col("nt") < nTotal)
    val labTotals = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("nl"))
      .filter(col("nl") < nTotal)
    // a label×token cell can be zero yet still informative only via
    // the other cells; absent (w, label) rows have n11 = 0 and appear
    // through the token-marginal frame crossed with the label list
    val grid = tokTotals.crossJoin(broadcast(labTotals))
      .join(cellCounts, Seq("w", "label"), "left")
      .select(col("w"), col("label"), col("nt"), col("nl"),
        coalesce(col("n11"), lit(0L)).as("n11"))
    val n10 = col("nt") - col("n11")
    val n01 = col("nl") - col("n11")
    val n00 = lit(nTotal) - col("nt") - col("nl") + col("n11")
    val diff = (col("n11") * n00 - n10 * n01).cast("double")
    val denom = (col("nt").cast("double")) *
      ((lit(nTotal) - col("nt")).cast("double")) *
      (col("nl").cast("double")) *
      ((lit(nTotal) - col("nl")).cast("double"))
    val chi2 = lit(nTotal.toDouble) * diff * diff / denom
    val byLabel = Window.partitionBy(col("label"))
      .orderBy(col("__chi2").desc, col("w"))
    grid.withColumn("__chi2", chi2)
      .withColumn("rank", row_number().over(byLabel))
      .filter(col("rank") <= topN)
      .select(col("label"), col("w").as("token"), col("n11"),
        col("rank"), round(col("__chi2"), 6).as("chi2"))
  }

  def charNgrams(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(1), length(text) - (n - 1)),
        i => substring(text, i, lit(n))))
      .otherwise(array())

  /** Per-language character-n-gram rank profiles (Cavnar & Trenkle 1994,
    * "N-Gram-Based Text Categorization"): for each label, the `topN`
    * most frequent n-grams ranked by (count desc, gram asc) — the
    * deterministic tie-break that makes the profile, and everything
    * downstream, engine-reproducible. Output: (label, gram, lr). */
  def langProfiles(train: DataFrame, labelCol: String, textCol: String,
                   n: Int = 3, topN: Int = 300): DataFrame = {
    val grams = train.select(col(labelCol).as("label"),
      explode(charNgrams(col(textCol), n)).as("gram"))
    val counts = grams.groupBy(col("label"), col("gram"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("n").desc, col("gram"))
    counts.withColumn("lr", row_number().over(w))
      .filter(col("lr") <= topN)
      .select(col("label"), col("gram"), col("lr"))
  }

  /** Rank-order (out-of-place) language identification: build per-label
    * n-gram rank profiles from `train`, profile each `test` document the
    * same way (top `topM` grams), and predict the label minimizing the
    * out-of-place distance Σ_g |doc_rank(g) − label_rank(g)|, with a
    * `topN` penalty per doc gram absent from the label profile. Ties
    * break by label asc. This is the classic profile-based langid that
    * `TextAnalysis.langIdHeuristic`'s docstring points at — a real
    * trained model, not a marker-word heuristic — and a genuinely
    * different decision rule from [[naiveBayesClassify]] (rank
    * comparison vs smoothed likelihood).
    *
    * Scale design: the model is `labels × topN` rows — broadcast at any
    * corpus scale. The document side is two bounded per-doc stages (gram
    * count, then ≤ `topM` ranked rows), so both shuffles are keyed by
    * doc id with bounded payload; the distance aggregate re-expresses
    * the unmatched-gram penalty as `m·topN + Σ(|dr−lr| − topN)` over
    * MATCHED grams only, so no (doc × label × gram) expansion ever
    * materializes — the label fan-out happens after per-label partial
    * sums, at ≤ `labels` rows per doc. Integer arithmetic throughout:
    * bit-exact in any engine.
    *
    * Output: one row per test doc — (idCol, pred_label, dist) +
    * `keepCols` carried from `test`. Docs shorter than `n` chars have no
    * profile and are omitted (same contract as the oracle). */
  def rankOrderClassify(train: DataFrame, test: DataFrame,
                        labelCol: String, idCol: String, textCol: String,
                        n: Int = 3, topN: Int = 300, topM: Int = 100,
                        keepCols: Seq[String] = Nil): DataFrame = {
    require(topN >= 1 && topM >= 1, "profile sizes must be >= 1")
    val profiles = langProfiles(train, labelCol, textCol, n, topN)
      .truncateLineage(false)
    val docGrams = test.select(col(idCol).as("__id"),
      explode(charNgrams(col(textCol), n)).as("gram"))
      .groupBy(col("__id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val dw = Window.partitionBy(col("__id"))
      .orderBy(col("cnt").desc, col("gram"))
    val docRank = docGrams.withColumn("dr", row_number().over(dw))
      .filter(col("dr") <= topM)
      .select(col("__id"), col("gram"), col("dr"))
      .truncateLineage(false)
    val docM = docRank.groupBy(col("__id"))
      .agg(count(lit(1)).as("m"))
    // matched-gram partial: Σ (|dr − lr| − topN); unmatched grams
    // contribute the full topN penalty via the m·topN base term
    val adj = docRank.join(broadcast(profiles), Seq("gram"))
      .groupBy(col("__id"), col("label"))
      .agg(sum(abs(col("dr") - col("lr")) - topN).as("adj"))
    val labels = profiles.select(col("label")).distinct()
    val dist = docM.crossJoin(broadcast(labels))
      .join(adj, Seq("__id", "label"), "left")
      .withColumn("dist", col("m") * topN + coalesce(col("adj"), lit(0L)))
    val pw = Window.partitionBy(col("__id"))
      .orderBy(col("dist"), col("label"))
    val pred = dist.withColumn("__rn", row_number().over(pw))
      .filter(col("__rn") === 1)
      .select(col("__id").as(idCol), col("label").as("pred_label"),
        col("dist"))
    if (keepCols.isEmpty) pred
    else pred.join(test.select(col(idCol) +: keepCols.map(col): _*),
      Seq(idCol))
  }

  /** The md5-48 hashed-bag-of-words feature space shared by
    * [[trainLogisticHashed]] and [[scoreLogisticHashed]]: one row per
    * (doc, DISTINCT bucket) — presence features, the fastText-style
    * representation whose dimensionality is `dim` regardless of
    * vocabulary. Engine-reproducible bucket hash (the DSIR pattern). */
  private def hashedFeatures(docs: DataFrame, idCol: String,
                             textCol: String, dim: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 12), 16, 10).cast("long")
          % dim).as("b"))
      .distinct()

  /** Train a binary logistic-regression text classifier with
    * full-batch gradient descent ON the cluster — the GPT-3-lineage
    * quality-filter shape (score documents by a model trained against
    * a trusted split) with the training loop itself distributed and,
    * unusually, EXTERNALLY REPLICABLE: every gradient is a DECIMAL sum
    * of per-document residuals, every weight update rounds once to 9
    * decimals, so `iters` rounds replicate bit-for-bit in unrolled SQL
    * (the pageRank discipline applied to model training).
    *
    * Model: P(y=1|x) = σ(w·x + w₀) over `dim` md5-48 presence buckets;
    * update wⱼ ← wⱼ − round(lr · gradⱼ / n, 9) from w = 0. No
    * regularization (bounded presence features + few rounds; add an L2
    * term upstream of the round if needed).
    *
    * Scale shape per round: one groupBy(doc) margin sum and one
    * groupBy(bucket) gradient sum over the (doc, bucket) presence
    * frame — both keyed, both map-side-combined (the gradient reduces
    * to ≤ dim+1 rows per partition BEFORE the exchange, so the tiny
    * key space is a partial-agg win, not a skew hazard). The model is
    * dim+1 scalars: it rides INTO each round as decimal literals
    * inside the margin expression (plan-constant, like the IVF
    * codebooks) and the round's ONE action collects the dim+1
    * gradients back — the update itself is driver arithmetic on
    * bounded metadata, the same exact decimal ops the plan would do
    * (IVF `trainCentroids` precedent). Nothing corpus-sized ever
    * leaves the executors, and no per-round lineage accumulates.
    *
    * Output: (feature, weight) — one row per bucket 0..dim−1 plus the
    * bias at feature = −1; weight rounded to 6 for display, training
    * precision is the internal decimal. */
  def trainLogisticHashed(docs: DataFrame, idCol: String, textCol: String,
                          labelCol: String, dim: Int = 32,
                          iters: Int = 3, lr: Double = 1.0): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = hashedFeatures(docs, idCol, textCol, dim)
      .truncateLineage(false)
    val labels = docs.select(col(idCol).as("doc_id"),
        col(labelCol).cast("boolean").cast("int").as("y"))
      .truncateLineage(false)
    val n = labels.count()
    require(n > 0, "trainLogisticHashed needs a non-empty corpus")
    val zero = lit(0).cast("decimal(28,9)")
    // round-9 HALF_UP on a double — the engine round() convention,
    // applied to the driver-side weight updates so they are the same
    // exact decimals the plan-side round() would produce
    def d9(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    var w: Map[Long, BigDecimal] =
      ((-1L until dim.toLong).map(_ -> BigDecimal(0))).toMap
    (0 until iters).foreach { _ =>
      // the model as a plan literal: bucket -> decimal weight
      val wMap = map_from_arrays(
        array(w.keys.toSeq.sorted.map(lit): _*),
        array(w.keys.toSeq.sorted.map(b =>
          lit(w(b).underlying.toPlainString).cast("decimal(28,9)")): _*))
      val margins = feats
        .select(col("doc_id"), element_at(wMap, col("b")).as("wv"))
        .groupBy(col("doc_id"))
        .agg(sum(col("wv")).cast("decimal(28,9)").as("s"))
      val resid = labels
        .join(margins, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (round(lit(1.0) /
              (lit(1.0) + exp(-((lit(w(-1L).underlying.toPlainString)
                  .cast("decimal(28,9)") +
                coalesce(col("s"), zero)).cast("double")))), 9)
            .cast("decimal(28,9)") -
            col("y").cast("decimal(28,9)")).as("r"))
      // one action: per-bucket gradient sums plus the bias row
      val grads = feats.join(resid, Seq("doc_id"))
        .groupBy(col("b"))
        .agg(sum(col("r")).cast("decimal(28,9)").as("g"))
        .unionByName(resid
          .agg(sum(col("r")).cast("decimal(28,9)").as("g"))
          .select(lit(-1L).as("b"), col("g")))
        .as[(Long, java.math.BigDecimal)]
        .collect().toMap
      w = w.map { case (b, wv) =>
        val g = grads.get(b).flatMap(Option(_))
          .map(BigDecimal(_)).getOrElse(BigDecimal(0))
        b -> (wv - d9(lr * g.toDouble / n))
      }
    }
    // display: double-cast THEN round-6, the same shape as the SQL
    // round(CAST(w AS DOUBLE), 6) the oracle uses
    w.toSeq.sortBy(_._1).map { case (b, wv) =>
      (b, BigDecimal(wv.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("feature", "weight")
  }

  /** [[scoreLogisticHashed]] as a ZERO-SHUFFLE projection: the weight
    * frame (dim+1 bounded rows) collects once and rides inside a
    * compiled higher-order fold — tokenize, bucket, distinct, then
    * left-fold the bias + bucket weights as exact decimals within the
    * row. No join, no aggregation, no state: the form that runs
    * UNCHANGED on an unbounded stream in append mode.
    *
    * Decimal addition is exact and associative, so the per-row fold
    * equals the batch groupBy sum bit-for-bit (parity spec). */
  def scoreLogisticInline(docs: DataFrame, weights: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          passthroughCols: Seq[String] = Nil): DataFrame = {
    val rows = weights.select(col("feature").cast("long"),
        col("weight").cast("double"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dim = rows.size - 1
    require(dim >= 1 && rows.contains(-1L),
      "weights must carry the bias row plus buckets")
    val wMap = map_from_arrays(
      array((0L until dim.toLong).map(lit): _*),
      array((0L until dim.toLong).map(b =>
        lit(BigDecimal(rows(b)).setScale(9,
            BigDecimal.RoundingMode.HALF_UP).underlying.toPlainString)
          .cast("decimal(28,9)")): _*))
    val bias = lit(BigDecimal(rows(-1L)).setScale(9,
        BigDecimal.RoundingMode.HALF_UP).underlying.toPlainString)
      .cast("decimal(28,9)")
    val buckets = array_distinct(transform(split(col(textCol), " "),
      t => conv(substring(md5(t), 1, 12), 16, 10).cast("long") % dim))
    val margin = aggregate(buckets, bias,
      (acc, b) => (acc + element_at(wMap, b)).cast("decimal(28,9)"))
    docs.select(col(idCol).as(idCol) +: passthroughCols.map(col) :+
      round(lit(1.0) / (lit(1.0) + exp(-(margin.cast("double")))), 6)
        .as("p"): _*)
  }

  /** Score documents with a [[trainLogisticHashed]] weight frame:
    * (idCol, p) with p = σ(bias + Σ presence-bucket weights) rounded
    * to 6. The weight frame is dim+1 rows and broadcasts; scoring is
    * one keyed sum over the presence frame. */
  def scoreLogisticHashed(docs: DataFrame, weights: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val dim = weights.count().toInt - 1
    require(dim >= 1, "weights must carry the bias row plus buckets")
    val feats = hashedFeatures(docs, idCol, textCol, dim)
    // weights quantize to round-9 decimals on BOTH paths (here and in
    // scoreLogisticInline's literal fold) so the two forms agree
    // bit-for-bit: decimal addition is exact and associative
    val w = weights.select(col("feature").as("b"),
      round(col("weight").cast("double"), 9)
        .cast("decimal(28,9)").as("w"))
    val bias = w.filter(col("b") === -1L).select(col("w").as("w_bias"))
    val zero = lit(0).cast("decimal(28,9)")
    val sums = feats.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).cast("decimal(28,9)").as("s"))
    docs.select(col(idCol).as("doc_id"))
      .join(sums, Seq("doc_id"), "left")
      .crossJoin(broadcast(bias))
      .select(col("doc_id").as(idCol),
        round(lit(1.0) / (lit(1.0) +
          exp(-((col("w_bias") + coalesce(col("s"), zero))
            .cast("double")))), 6).as("p"))
  }
}
