package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints.TruncateOps

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, quality scoring, language-ID heuristics, and
  * document fingerprinting.
  *
  * Everything here is a narrow per-row projection built from codegen'd
  * builtins and higher-order functions — no UDFs, no shuffle, linear scan
  * cost; at 100 TB these run map-side at parquet-scan speed and the only
  * cost is the scan itself.
  */
object TextAnalysis {

  /** Whitespace tokenization (single-space delimited corpora). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** let-binding for an expensive array expression referenced inside
    * HOF lambda bodies: higher-order functions are interpreted with
    * no common-subexpression elimination, so an inline `split` in a
    * per-element lambda re-splits the text once PER ELEMENT
    * (O(tokens²) per document — measured 6.6× on the n-gram slide).
    * Wrapping the value as the single element of an outer `transform`
    * binds it to a lambda variable: evaluated once, O(1) per use. */
  private def bound(x: Column)(body: Column => Column): Column =
    element_at(transform(array(x), body), 1)

  /** Distinct word n-gram shingles. Empty array when the document is
    * shorter than `n` tokens. */
  def shingles(text: Column, n: Int): Column =
    bound(tokens(text)) { toks =>
      when(size(toks) >= n,
        array_distinct(transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
        .otherwise(array().cast("array<string>"))
    }

  /** Distinct word n-gram shingles as 64-bit hashes — same set semantics
    * as [[shingles]] (collision probability ~n²/2⁶⁵) with longs as the
    * set identity, making downstream sort / join / intersect cheap.
    * Backed by the native [[org.apache.spark.sql.graftext.HashedNGramShingles]]
    * expression (one compiled pass per document). */
  def hashedShingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graftext.HashedNGramShingles(text, n)

  /** Type-token ratio (distinct tokens / tokens) — a simple repetition /
    * quality signal. */
  def typeTokenRatio(text: Column): Column = {
    val toks = tokens(text)
    size(array_distinct(toks)).cast("double") / size(toks).cast("double")
  }

  /** Fraction of tokens drawn from `words`. */
  def wordRatio(text: Column, words: Seq[String]): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t.isInCollection(words))).cast("double") /
      size(toks).cast("double")
  }

  /** Mean token length in characters. */
  def meanTokenLength(text: Column): Column = {
    val toks = tokens(text)
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      size(toks).cast("double")
  }

  /** English function words used by the language-ID heuristic. */
  val EnglishMarkers: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** N-gram-free language-ID heuristic: classifies by function-word
    * density. Deterministic and SQL-expressible by construction so it can
    * be oracle-checked; swap in a real n-gram profile model per language
    * for production corpora. */
  def langIdHeuristic(text: Column): Column = {
    val r = wordRatio(text, EnglishMarkers)
    when(r >= lit(0.05), lit("en")).otherwise(lit("unk"))
  }

  /** Deflate compression ratio of the text (compressed/raw bytes) —
    * the MassiveText/RefinedWeb repetitiveness signal: very low means
    * boilerplate/template spam, ~1 means noise or encoded binary. A
    * native codegen'd expression
    * ([[org.apache.spark.sql.graftext.DeflateRatio]]); scan-speed. */
  def compressionRatio(text: Column, level: Int = 6): Column =
    org.apache.spark.sql.graftext.DeflateRatio(text, level)

  /** Composite quality score in [0,1]: rewards lexical diversity and
    * penalizes degenerate token lengths. */
  def qualityScore(text: Column): Column = {
    val ttr = typeTokenRatio(text)
    val mlen = meanTokenLength(text)
    val lenOk = when(mlen.between(2.0, 12.0), lit(1.0)).otherwise(lit(0.5))
    round(ttr * lenOk, 6)
  }

  /** Corpus-fit min/max bounds of the three blend signals — the tiny
    * "model" [[blendQuality]] normalizes against. Six doubles: bounded
    * driver metadata, the centroid-frame precedent. */
  final case class QualityStats(ttrMin: Double, ttrMax: Double,
                                lenMin: Double, lenMax: Double,
                                stopMin: Double, stopMax: Double)

  /** Fit [[QualityStats]] over a corpus: one aggregate, one row back. */
  def fitQualityStats(docs: DataFrame,
                      textCol: String = "text"): QualityStats = {
    val t = col(textCol)
    val r = docs.agg(
      min(typeTokenRatio(t)), max(typeTokenRatio(t)),
      min(meanTokenLength(t)), max(meanTokenLength(t)),
      min(wordRatio(t, EnglishMarkers)),
      max(wordRatio(t, EnglishMarkers))).head()
    QualityStats(r.getDouble(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5))
  }

  /** Ensemble quality blend (the DataComp/Nemotron-style "combine weak
    * signals into one score" gate): min-max normalize lexical diversity
    * (type-token ratio), mean word length, and stopword density against
    * corpus-fit [[QualityStats]], then take a weighted sum. The keep
    * decision compares the UNROUNDED blend to `cutoff`; reported
    * columns are rounded for display.
    *
    * Scale shape: the stats ride as plan literals (constant-folded into
    * the codegen'd projection — no join, no window), so the scoring
    * pass is scan-speed and streaming-safe. Normalizing against fitted
    * min/max rather than a per-row percent_rank is deliberate: a global
    * rank window would serialize the corpus through one partition;
    * min/max (or sketch quantiles) keep the gate embarrassingly
    * parallel at 100 TB. A degenerate signal (max == min) contributes
    * a neutral 0.5. */
  def blendQuality(docs: DataFrame, stats: QualityStats,
                   idCol: String = "doc_id", textCol: String = "text",
                   wTtr: Double = 0.4, wLen: Double = 0.3,
                   wStop: Double = 0.3, cutoff: Double = 0.5,
                   passthroughCols: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    def nrm(s: Column, mn: Double, mx: Double): Column =
      if (mx > mn) (s - lit(mn)) / (lit(mx) - lit(mn)) else lit(0.5)
    val n1 = nrm(typeTokenRatio(t), stats.ttrMin, stats.ttrMax)
    val n2 = nrm(meanTokenLength(t), stats.lenMin, stats.lenMax)
    val n3 = nrm(wordRatio(t, EnglishMarkers), stats.stopMin, stats.stopMax)
    val blend = lit(wTtr) * n1 + lit(wLen) * n2 + lit(wStop) * n3
    docs.select(col(idCol) +: round(n1, 6).as("n_ttr") +:
      round(n2, 6).as("n_len") +: round(n3, 6).as("n_stop") +:
      round(blend, 6).as("blend") +: (blend >= cutoff).as("keep") +:
      passthroughCols.map(col): _*)
  }

  /** Content fingerprint for exact dedup: MD5 of the normalized text.
    * (MD5 rather than xxhash so external engines reproduce it.) */
  def fingerprint(text: Column): Column = md5(lower(text))

  /** BPE-ish subword token count: runs of letters, runs of digits, and
    * each remaining non-space symbol count as one token — the shape a
    * byte-pair tokenizer's pre-tokenizer produces. Plain regex, so any
    * engine reproduces it. */
  def subwordTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))

  /** Rolling-hash (Karp-Rabin) document fingerprint over tokens: each
    * token contributes a small integer value (length and first-char code
    * — deliberately engine-portable), folded left with
    * acc = (acc * 131 + v) mod 1e9+7. Order-sensitive, unlike the MD5 of
    * a set; pure integer arithmetic so external oracles match exactly. */
  def rollingFingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * 131L + length(t) * 31L + ascii(t), lit(1000000007L)))

  /** PII scrubbing: emails and US-style phone numbers replaced with
    * typed placeholders. Patterns are RE2-safe (no backrefs/lookaround)
    * so external engines reproduce them byte-identically; a narrow
    * codegen'd projection at parquet-scan speed — extend the pattern
    * list per policy. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text,
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
      "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "[PHONE]")

  /** Winnowing fingerprints (see
    * [[org.apache.spark.sql.graftext.WinnowedFingerprints]]): the
    * sorted distinct window-minimum gram hashes — a ~2/(w+1)-density
    * sketch with the guarantee that any shared `w + k − 1`-word run
    * between two documents shares a fingerprint. */
  def winnowedFingerprints(text: Column, k: Int = 3, w: Int = 4): Column =
    org.apache.spark.sql.graftext.WinnowedFingerprints(text, k, w)

  /** MOSS-style document-overlap detection (Schleimer et al. 2003, the
    * winnowing paper's own application): pairs of documents sharing ≥
    * `minShared` winnowing fingerprints, with the shared count as the
    * overlap score. Because any common `w + k − 1`-word run guarantees a
    * shared fingerprint, this finds copied/templated passages at
    * ~2/(w+1) the index density of full shingling.
    *
    * Scale shape: a fingerprint inverted index — only documents sharing
    * a fingerprint ever meet, so cost is Σ(posting²) not n². `maxDf`
    * (the MOSS "too common to be interesting" knob) drops fingerprints
    * appearing in more than that many documents before the join: at web
    * scale boilerplate fingerprints are the quadratic hazard (a 6-word
    * navigation snippet shared by f docs makes one f²/2-row join bucket),
    * and dropping them bounds every posting list. The default is FINITE
    * so the cap is structural, not opt-in — a 1000-doc posting is already
    * a 500k-row bucket; pass `Int.MaxValue` explicitly to disable (the
    * all-pairs oracle form, small corpora only). Output:
    * (id_a, id_b, n_shared) with id_a < id_b. */
  def winnowOverlapPairs(docs: DataFrame, idCol: String,
                         textCol: String = "text", k: Int = 3, w: Int = 4,
                         minShared: Int = 2,
                         maxDf: Int = 1000): DataFrame = {
    val fps = docs.select(col(idCol).as("id"),
      explode(winnowedFingerprints(col(textCol), k, w)).as("fp"))
    val posting =
      if (maxDf == Int.MaxValue) fps
      else {
        val df = fps.groupBy(col("fp"))
          .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
        fps.join(df.select(col("fp")), "fp")
      }
    posting.as("a").join(posting.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id"), col("b.id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("n_shared"))
  }

  /** Corpus vocabulary: the `topN` tokens by total frequency with their
    * document frequency and a deterministic rank (frequency desc, token
    * asc) — the precursor table for tokenizer training and stopword
    * derivation.
    *
    * Scale shape: aggregation is two-level — (doc, token) partials
    * first, then token totals — so a hot token (every "the" in a 100 TB
    * corpus) is pre-collapsed per document before the token-keyed
    * shuffle, and df falls out as a count instead of a count-distinct
    * expansion. The global top-N is orderBy+limit, which Spark plans as
    * TakeOrderedAndProject: each partition keeps its own top N and only
    * N-row heaps reach the driver-side merge — no global sort. The rank
    * window then runs on ≤ N rows. */
  def buildVocab(docs: DataFrame, textCol: String = "text", topN: Int = 1000,
                 idCol: String = "doc_id"): DataFrame = {
    val per = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("c"))
    per.groupBy(col("token"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("token")).limit(topN)
      // rank WITHOUT a global window: an empty-partition-spec window makes
      // WindowExec log the scary "Moving all data to a single partition"
      // WARN on every run (and a literal partition key is stripped right
      // back to empty by Spark 4's EliminateWindowPartitions). The ≤ topN
      // surviving rows legitimately fit one partition, so say so: an
      // explicit coalesce(1) + local sort, with row position as the rank.
      .coalesce(1)
      .sortWithinPartitions(col("tf").desc, col("token"))
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("int"))
  }

  /** Harman's S-stemmer (1991) as a Column — the minimal-risk plural
    * folder retrieval stacks reach for before a full Porter pass:
    * three ordered suffix rules, each guarded by the exception
    * suffixes Harman lists, nothing else touched. Weak by design
    * (over-stemming is the expensive failure in retrieval); purely
    * conditional string surgery, so it replicates in external SQL
    * byte-for-byte where Porter's measure-based rules would not.
    * Caller lowercases first if case-insensitive folding is wanted. */
  def sStem(w: Column): Column =
    // dispatch on the LONGEST matching suffix, guards TERMINATE: a
    // guarded word keeps its surface form ("trees", "shoes", "bus") —
    // falling through to a shorter rule would undo exactly the
    // exceptions the guards exist to protect
    when(w.endsWith("ies"),
      when(w.endsWith("eies") || w.endsWith("aies"), w)
        .otherwise(concat(w.substr(lit(1), length(w) - 3), lit("y"))))
    .when(w.endsWith("es"),
      when(w.endsWith("aes") || w.endsWith("ees") || w.endsWith("oes"),
        w).otherwise(w.substr(lit(1), length(w) - 1)))
    .when(w.endsWith("s"),
      when(w.endsWith("us") || w.endsWith("ss"), w)
        .otherwise(w.substr(lit(1), length(w) - 1)))
    .otherwise(w)

  /** Stemmed vocabulary: [[buildVocab]]'s two-level count over
    * S-stemmed lowercased tokens — plural and singular surface forms
    * merge into one frequency row (the index-time normalization the
    * BM25 stack pairs with). Same ranking, tie-break, and top-N
    * plan shape as buildVocab. */
  def stemmedVocab(docs: DataFrame, textCol: String = "text",
                   topN: Int = 1000,
                   idCol: String = "doc_id"): DataFrame = {
    val per = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .select(col(idCol), sStem(lower(col("token"))).as("stem"))
      .groupBy(col(idCol), col("stem")).agg(count(lit(1)).as("c"))
    per.groupBy(col("stem"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("stem")).limit(topN)
      .coalesce(1)
      .sortWithinPartitions(col("tf").desc, col("stem"))
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("int"))
  }

  /** Vocabulary coverage CURVE — corpus token mass covered by the top-N
    * vocabulary at each candidate size: the chart that picks a
    * tokenizer/vocab budget (the knee where another 10k entries stops
    * buying coverage) before committing to a training run. One row per
    * cut: (cut, n_tokens = min(cut, |vocab|), coverage).
    *
    * Scale shape: ONE two-level token count (per-doc combine first —
    * the buildVocab pattern), checkpointed, then per cut a
    * TakeOrderedAndProject (per-partition heap of `cut` rows, no
    * global sort) feeding a scalar sum. Rank ties break (tf desc,
    * token asc) as everywhere else. Cost ∝ vocabulary + Σcuts, not
    * corpus, after the one count pass. Coverage displays on the
    * integer-scale 6-decimal lattice. */
  def coverageCurve(docs: DataFrame, textCol: String = "text",
                    cuts: Seq[Int] = Seq(100, 1000, 10000),
                    idCol: String = "doc_id"): DataFrame = {
    require(cuts.nonEmpty && cuts.forall(_ >= 1), "cuts must be >= 1")
    val counts = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("token")).agg(sum(col("c")).as("tf"))
      .truncateLineage(false)
    val total = counts.agg(sum(col("tf")).as("__tot"))
    val perCut = cuts.map { cut =>
      counts.orderBy(col("tf").desc, col("token")).limit(cut)
        .agg(sum(col("tf")).as("covered"), count(lit(1)).as("n_tokens"))
        .select(lit(cut).as("cut"), col("n_tokens"), col("covered"))
    }.reduce(_ unionByName _)
    perCut.crossJoin(total)
      .select(col("cut"), col("n_tokens"),
        (round(col("covered").cast("double") / col("__tot").cast("double")
          * lit(1e6)).cast("double") / lit(1e6)).as("coverage"))
  }

  /** Vocabulary coverage / out-of-vocabulary rate per document against
    * a trained token inventory — the acceptance test run after
    * [[buildVocab]]/[[trainBpe]]/[[trainPieces]] produce a vocab and
    * before it ships: a tokenizer whose vocab misses 20% of a new
    * corpus slice's tokens will shred that slice into garbage pieces.
    * Also the per-document routing signal (docs with high OOV against
    * an English vocab are probably not English).
    *
    * Scale shape: explode to (doc, token) and LEFT SEMI-shape against
    * the broadcast vocab (vocabs are ≤ a few hundred-k rows — the
    * canonical broadcast dim), then one doc-keyed count aggregate; the
    * token explosion never shuffles, only the per-doc partial counts
    * do. Output: (doc_id, n_tokens, n_oov, oov_rate[round 6]);
    * null-text documents survive (explode_outer) with n_tokens 0 and
    * a null rate. */
  def vocabCoverage(docs: DataFrame, vocab: DataFrame,
                    idCol: String = "doc_id",
                    textCol: String = "text",
                    vocabTokenCol: String = "token"): DataFrame = {
    val vt = broadcast(
      vocab.select(col(vocabTokenCol).as("__vt")).distinct())
    docs.select(col(idCol), explode_outer(tokens(col(textCol))).as("tok"))
      .join(vt, col("tok") === col("__vt"), "left")
      .groupBy(col(idCol))
      .agg(count(col("tok")).as("n_tokens"),
        sum(when(col("tok").isNotNull && col("__vt").isNull, lit(1L))
          .otherwise(lit(0L))).as("n_oov"))
      .withColumn("oov_rate",
        when(col("n_tokens") > 0,
          round(col("n_oov").cast("double") /
            col("n_tokens").cast("double"), 6)))
  }

  /** Least-squares Zipf fit over the vocabulary head — the one-number
    * corpus-health diagnostic (natural text sits near slope −1;
    * template/boilerplate-heavy or synthetic corpora flatten, spammy
    * keyword-stuffed ones steepen — Zipf drift is a standard
    * crawl-quality tripwire). Fits ln(tf) against ln(rank) over the
    * top `topN` tokens of [[buildVocab]] (the head is the standard fit
    * range; the tail is dominated by hapax noise).
    *
    * Scale shape: everything corpus-sized happens inside buildVocab's
    * one aggregate; the fit itself runs on ≤ topN rows. Each
    * regression term rounds to 9 decimals and sums as DECIMAL, so the
    * fit is partition- and engine-independent; the final slope /
    * intercept / R² arithmetic is plain double with identical shape in
    * the oracle. Output: one row (n_fit, slope, intercept, r2),
    * rounded to 6. */
  def zipfFit(docs: DataFrame, textCol: String = "text",
              topN: Int = 1000, idCol: String = "doc_id"): DataFrame = {
    require(topN >= 3, "topN must be >= 3 to fit a line meaningfully")
    def dterm(c: Column) = round(c, 9).cast("decimal(28,9)")
    val x = log(col("rank").cast("double"))
    val y = log(col("tf").cast("double"))
    val terms = buildVocab(docs, textCol, topN, idCol)
      .select(dterm(x).as("x"), dterm(y).as("y"), dterm(x * y).as("xy"),
        dterm(x * x).as("xx"), dterm(y * y).as("yy"))
    val agg = terms.agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("xy")).cast("double").as("sxy"),
      sum(col("xx")).cast("double").as("sxx"),
      sum(col("yy")).cast("double").as("syy"))
    val n = col("n").cast("double")
    val covN = n * col("sxy") - col("sx") * col("sy")
    val varXN = n * col("sxx") - col("sx") * col("sx")
    val varYN = n * col("syy") - col("sy") * col("sy")
    agg.select(col("n").as("n_fit"),
      round(covN / varXN, 6).as("slope"),
      round((col("sy") - (covN / varXN) * col("sx")) / n, 6)
        .as("intercept"),
      // varX > 0 always (ranks are distinct); varY = 0 when every tf
      // ties — R² undefined, and ANSI mode makes /0 an error
      when(varYN =!= 0.0,
        round(covN * covN / (varXN * varYN), 6)).as("r2"))
  }

  /** WordPiece-style piece-inventory training: score every substring
    * (length ≤ `maxPieceLen`) of every corpus word by the total
    * frequency of the words containing it, keep the top `topN` —
    * the frequency-ranked inventory that [[piecesTokenize]]'s greedy
    * longest-match inference consumes (the BERT tokenizer family;
    * next to [[trainBpe]]'s merge-rule family).
    *
    * Scale shape: one corpus-scale shuffle (word counts); substring
    * explosion runs over the DISTINCT-WORD frame (vocabulary-sized,
    * ≤ len·maxPieceLen pieces per word), and the ranked head uses the
    * [[buildVocab]] top-N discipline — no global window. Deterministic
    * tie-break (weight desc, piece asc) → externally replicable.
    * Output: (piece, weight, rank), rank 1-based. */
  def trainPieces(docs: DataFrame, textCol: String = "text",
                  topN: Int = 500, maxPieceLen: Int = 8): DataFrame = {
    require(topN >= 1, "topN must be >= 1")
    require(maxPieceLen >= 1, "maxPieceLen must be >= 1")
    val words = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("tf"))
    val subs = words.select(col("tf"), explode(expr(
      s"""flatten(transform(sequence(1, char_length(w)), s ->
         |  transform(sequence(s, least(char_length(w),
         |                             s + ${maxPieceLen - 1})), e ->
         |    substring(w, s, e - s + 1))))""".stripMargin)).as("piece"))
    subs.groupBy(col("piece")).agg(sum(col("tf")).as("weight"))
      .orderBy(col("weight").desc, col("piece")).limit(topN)
      .coalesce(1)
      .sortWithinPartitions(col("weight").desc, col("piece"))
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("int"))
  }

  /** Greedy longest-match subword tokenization against a
    * [[trainPieces]] inventory (WordPiece inference): each whitespace
    * word segments independently; unmatched leading characters emit
    * `[UNK]` and advance one. The inventory (topN rows — bounded by
    * construction) collects to the driver ONCE and rides inside the
    * compiled [[org.apache.spark.sql.graftext.GreedyPieces]]
    * expression, so tokenization is a zero-shuffle scan-speed
    * projection. Output: (id, wpos, ppos, piece) — word and piece
    * positions 0-based. */
  def piecesTokenize(docs: DataFrame, idCol: String, textCol: String,
                     vocab: DataFrame,
                     maxPieceLen: Int = 8): DataFrame = {
    val pieces = vocab.select(col("piece")).collect()
      .map(_.getString(0)).toIndexedSeq
    docs
      .select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("wpos", "w")))
      .select(col(idCol), col("wpos"),
        posexplode(org.apache.spark.sql.graftext.GreedyPieces(
          col("w"), pieces, maxPieceLen)).as(Seq("ppos", "piece")))
  }

  /** BPE tokenizer training (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units") — the iterative
    * pair-merge loop on top of the [[buildVocab]] word statistics:
    * starting from characters, each round counts adjacent symbol pairs
    * (weighted by word frequency, overlapping occurrences counted like
    * the reference implementation's zip) and merges the most frequent
    * pair everywhere, greedily left-to-right within each word.
    * Deterministic tie-break: pair count desc, then (left, right)
    * lexicographic — replicable in any engine, no hash order involved.
    *
    * Returns the merge table (merge_rank, left_sym, right_sym, merged,
    * pair_count), `numMerges` rows (fewer if the corpus runs out of
    * repeated pairs) — the artifact a tokenizer ships.
    *
    * Scale shape: ONE corpus-scale shuffle total (the distinct-word
    * count, token-keyed with map-side partials — identical to
    * buildVocab's first level). Every merge round then runs on the
    * VOCABULARY frame (distinct words × their symbol arrays), which is
    * corpus-size-independent; the winning pair rides into the next
    * round's rewrite as a literal inside a compiled higher-order
    * function — the broadcast-merge-table pattern with zero extra
    * shuffles. The vocab frame is localCheckpoint'd each round: it is
    * vocab-scale (small), and truncating the lineage keeps round R's
    * plan from re-deriving R−1 rewrite layers. */
  def trainBpe(docs: DataFrame, textCol: String = "text",
               numMerges: Int = 10): DataFrame =
    trainBpeSeeded(docs, textCol, numMerges,
      expr("transform(sequence(1, length(token)), " +
        "i -> substring(token, i, 1))"))

  /** The GPT-2 byte↔unicode table (Radford et al. 2019,
    * `bytes_to_unicode`): printable/latin byte values keep their own
    * codepoint ('!'..'~', '¡'..'¬', '®'..'ÿ'); the rest map to
    * 256+n in byte order — every one of the 256 byte values gets a
    * distinct PRINTABLE symbol, which is what makes byte-level BPE
    * UNK-free on arbitrary input. */
  private[graft] lazy val byteAlphabet: IndexedSeq[String] = {
    val kept = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    var n = -1
    (0 to 255).map { b =>
      if (kept(b)) b.toChar.toString
      else { n += 1; (256 + n).toChar.toString }
    }
  }

  /** A word's byte-level symbol array: UTF-8 bytes remapped through
    * [[byteAlphabet]] — the seed alphabet of [[trainBpeBytes]] /
    * [[bpeTokenizeBytes]]. Pure codegen'd expressions (hex pairs →
    * alphabet lookup), replicated verbatim in the DuckDB oracle. */
  private def byteSyms(word: Column): Column = {
    val alpha = array(byteAlphabet.map(lit): _*)
    val h = hex(encode(word, "UTF-8"))
    transform(sequence(lit(1), octet_length(word)),
      i => element_at(alpha,
        conv(substring(h, i * 2 - 1, lit(2)), 16, 10).cast("int") + 1))
  }

  /** Byte-level BPE training (the GPT-2 / Llama production tokenizer
    * shape): the SAME merge loop as [[trainBpe]], seeded with
    * [[byteSyms]] instead of characters — so there is no UNK anywhere
    * in the model: any byte of any script is a base symbol before the
    * first merge. Merge-table schema and determinism identical to
    * trainBpe; merged symbols live in the remapped alphabet space. */
  def trainBpeBytes(docs: DataFrame, textCol: String = "text",
                    numMerges: Int = 10): DataFrame =
    trainBpeSeeded(docs, textCol, numMerges, byteSyms(col("token")))

  private def trainBpeSeeded(docs: DataFrame, textCol: String,
                             numMerges: Int, seed: Column): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = docs.sparkSession
    var words = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), seed.as("syms"))
      .truncateLineage(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Row]
    var exhausted = false
    (0 until numMerges).foreach { rank =>
      if (!exhausted) {
        val top = words
          .filter(size(col("syms")) >= 2)
          .select(col("cnt"), explode(
            transform(sequence(lit(0), size(col("syms")) - 2),
              i => struct(element_at(col("syms"), i + 1).as("l"),
                element_at(col("syms"), i + 2).as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("pc"))
          .orderBy(col("pc").desc, col("l"), col("r"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (l, r, pc) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += Row(rank + 1, l, r, l + r, pc)
          words = words
            .withColumn("syms", mergePairGreedy(col("syms"), l, r))
            .truncateLineage(true)
        }
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("merge_rank",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("left_sym",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("right_sym",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("merged",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("pair_count",
          org.apache.spark.sql.types.LongType))))
  }

  /** Greedy left-to-right single-merge application: fold the symbol
    * array, replacing each non-overlapping adjacent (l, r) with the
    * merged symbol — `[a a a]` under (a, a) becomes `[aa a]`, and the
    * just-created symbol never re-matches within the same round
    * (reference BPE semantics). Pure codegen'd aggregate HOF. */
  private def mergePairGreedy(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Apply a trained merge table: tokenize `textCol` into BPE subwords
    * — per whitespace word, start from characters and apply every
    * merge in rank order (each a compiled greedy fold, the merge table
    * riding as literals — broadcast-by-codegen like training). Output:
    * (id, word_pos, sym_pos, subword) rows — positions come from
    * posexplode, so ordering is deterministic with zero windows and
    * zero shuffles: the whole tokenization is one narrow scan-speed
    * projection. */
  def bpeTokenize(docs: DataFrame, merges: Seq[(String, String)],
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    bpeTokenizeSeeded(docs, merges, textCol, idCol,
      expr("transform(sequence(1, length(word)), " +
        "i -> substring(word, i, 1))"))

  /** Apply a [[trainBpeBytes]] merge table: byte-level tokenization
    * with NO UNK path — the seed symbols cover all 256 byte values,
    * so the emitted subwords always concatenate back to the word's
    * full remapped byte sequence (lossless; property-spec'd on
    * arbitrary Unicode). Subwords are in [[byteAlphabet]] space, the
    * convention GPT-2-family vocabularies ship in. */
  def bpeTokenizeBytes(docs: DataFrame, merges: Seq[(String, String)],
                       textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame =
    bpeTokenizeSeeded(docs, merges, textCol, idCol, byteSyms(col("word")))

  private def bpeTokenizeSeeded(docs: DataFrame,
                                merges: Seq[(String, String)],
                                textCol: String, idCol: String,
                                seed: Column): DataFrame = {
    val applied = merges.foldLeft(seed) { case (c, (l, r)) =>
      mergePairGreedy(c, l, r)
    }
    docs.select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("word_pos", "word")))
      .filter(col("word") =!= "")
      .select(col("id"), col("word_pos"),
        posexplode(applied).as(Seq("sym_pos", "subword")))
  }

  /** Unigram-LM tokenizer training (Kudo 2018, "Subword
    * Regularization" — the SentencePiece default model), completing
    * the tokenizer-family triple next to [[trainBpe]] (merge rules)
    * and [[trainPieces]] (greedy longest-match inventory):
    *
    *   1. SEED: the [[trainPieces]] substring statistics (every
    *      substring ≤ `maxPieceLen` of every corpus word, weighted by
    *      word frequency), top `seedTopN` by (weight desc, piece asc),
    *      UNION every single character (coverage guarantee — every
    *      word stays segmentable in every round).
    *   2. EM (`emRounds`, hard/Viterbi variant): E-step segments each
    *      distinct word by max-likelihood under the current table via
    *      the compiled [[org.apache.spark.sql.graftext.UnigramViterbi]]
    *      expression and accumulates INTEGER expected counts
    *      (Σ word-frequency per piece on its Viterbi path); M-step
    *      re-derives log-probs. Multi-char pieces with zero count
    *      drop; single chars persist with a count floor of 1.
    *      Documented divergence from full Kudo: hard-EM counts stand
    *      in for forward-backward expectations and count-pruning for
    *      the loss-delta prune — the deterministic, integer-count,
    *      externally-replicable variant (q_text_unigram runs the full
    *      train under a DuckDB oracle, DP rounds unrolled).
    *   3. PRUNE to `keepN`: every single char survives; multi-char
    *      pieces keep the top slots by (count desc, piece asc).
    *
    * Log-probs are `round9(ln(count)) − round9(ln(total))` — the
    * round-9 ln discipline the LM operators pin, so DP scores (plain
    * double sums in fixed order) replicate bit-for-bit externally.
    *
    * Scale shape: ONE corpus-scale shuffle (the distinct-word count);
    * seeding and every EM round run on the VOCABULARY frame with the
    * table riding as expression literals (the trainBpe vocab-frame
    * pattern), and each per-round aggregate is inventory-bounded.
    * Words longer than `maxWordLen` are excluded from training (the
    * standard SentencePiece-style sentence-length cap, and what keeps
    * the oracle's DP unroll finite).
    *
    * Output: (rank, piece, weight, logprob[round 9 terms]) — rank
    * 1-based by (weight desc, piece asc) over the kept inventory,
    * logprob relative to the KEPT total (what [[unigramTokenize]]
    * consumes). */
  def trainUnigram(docs: DataFrame, textCol: String = "text",
                   seedTopN: Int = 200, maxPieceLen: Int = 6,
                   keepN: Int = 100, emRounds: Int = 2,
                   maxWordLen: Int = 16): DataFrame = {
    require(seedTopN >= 1 && keepN >= 1 && emRounds >= 0)
    require(maxPieceLen >= 1 && maxWordLen >= maxPieceLen)
    val spark = docs.sparkSession
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val words = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= maxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .truncateLineage(true)
    val subs = words.select(col("cnt"), explode(expr(
      s"""flatten(transform(sequence(1, char_length(w)), s ->
         |  transform(sequence(s, least(char_length(w),
         |                             s + ${maxPieceLen - 1})), e ->
         |    substring(w, s, e - s + 1))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("cnt")).as("weight"))
      .truncateLineage(true)
    val seedTop = subs
      .orderBy(col("weight").desc, col("piece")).limit(seedTopN)
    val chars = subs.filter(length(col("piece")) === 1)
    // driver-bounded: seedTopN + alphabet rows
    var inv: Map[String, Long] = seedTop.unionByName(chars).distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val charSet = inv.keySet.filter(_.length == 1)
    def lpTable(m: Map[String, Long]): Seq[(String, Double)] = {
      val lnTotal = r9(math.log(m.values.sum.toDouble))
      m.toSeq.sortBy(_._1)
        .map { case (p, w) => p -> (r9(math.log(w.toDouble)) - lnTotal) }
    }
    (0 until emRounds).foreach { _ =>
      val counts = words
        .select(col("cnt"), explode(
          org.apache.spark.sql.graftext.UnigramViterbi(
            col("w"), lpTable(inv), maxPieceLen)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // multi-char zero-count pieces drop; chars floor at 1
      inv = (counts.filter(_._2 > 0) ++
        charSet.filterNot(c => counts.getOrElse(c, 0L) > 0)
          .map(_ -> 1L).toMap).toMap
    }
    val keptMulti = inv.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, w) => (-w, p) }
      .take(math.max(0, keepN - charSet.size))
    val kept = inv.toSeq.filter(_._1.length == 1) ++ keptMulti
    val lnTotal = r9(math.log(kept.map(_._2).sum.toDouble))
    val rows = kept.sortBy { case (p, w) => (-w, p) }.zipWithIndex
      .map { case ((p, w), i) =>
        (i + 1, p, w, r9(math.log(w.toDouble)) - lnTotal)
      }
    import spark.implicits._
    rows.toDF("rank", "piece", "weight", "logprob")
      .repartition(1).sortWithinPartitions(col("rank"))
  }

  /** Max-likelihood subword tokenization against a [[trainUnigram]]
    * inventory — Viterbi inference via the same compiled
    * [[org.apache.spark.sql.graftext.UnigramViterbi]] kernel as
    * training (unseen single characters emit `[UNK]` with the fixed
    * `unkLp` penalty). The (piece, logprob) table collects ONCE
    * (keepN-bounded by construction) and rides inside the expression:
    * zero-shuffle scan-speed projection. Output: (id, wpos, ppos,
    * piece), positions 0-based. */
  def unigramTokenize(docs: DataFrame, idCol: String, textCol: String,
                      vocab: DataFrame, maxPieceLen: Int = 6,
                      unkLp: Double = -100.0): DataFrame = {
    val table = vocab.select(col("piece"), col("logprob")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toIndexedSeq
    docs
      .select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("wpos", "w")))
      .select(col(idCol), col("wpos"),
        posexplode(org.apache.spark.sql.graftext.UnigramViterbi(
          col("w"), table, maxPieceLen, unkLp)).as(Seq("ppos", "piece")))
  }

  /** The Gopher quality-rule stopword list (Rae et al. 2021 App. A —
    * "the, be, to, of, and, that, have, with"): a document passing the
    * other gates but containing fewer than `minStopwords` of these is
    * overwhelmingly boilerplate/navigation, not prose. */
  private val gopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style rule-based quality gate (Rae et al. 2021 Appendix A —
    * the standard pre-filter every large-LM text pipeline runs before
    * model-based scoring). One row per document with each rule's
    * measurement and the combined `keep` flag:
    *
    *   - word count within [minWords, maxWords]
    *   - mean word length within [minMeanWordLen, maxMeanWordLen]
    *   - symbol-to-word ratio (`#` and `...` occurrences) ≤ maxSymbolRatio
    *   - fraction of lines starting with a bullet ≤ maxBulletFrac
    *   - fraction of lines ending in an ellipsis ≤ maxEllipsisFrac
    *   - fraction of words with ≥1 alphabetic char ≥ minAlphaFrac
    *   - ≥ minStopwords hits from the fixed stopword list (pass 0 for
    *     corpora where the rule doesn't apply, e.g. non-English)
    *
    * Ratios are rounded to 6 decimals for engine-replicable output; the
    * keep decision uses the UNROUNDED values (a rule boundary must not
    * move with the display rounding). Pure codegen'd projection — zero
    * shuffle at any scale, the 100 TB shape of a scan-speed gate.
    * `passthroughCols` ride along unchanged (e.g. the event time in the
    * streaming form, which cannot re-join them later — a stream-stream
    * self-join would need state the gate otherwise doesn't). */
  def gopherQualityFlags(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         minWords: Int = 50, maxWords: Int = 100000,
                         minMeanWordLen: Double = 3.0,
                         maxMeanWordLen: Double = 10.0,
                         maxSymbolRatio: Double = 0.1,
                         maxBulletFrac: Double = 0.9,
                         maxEllipsisFrac: Double = 0.3,
                         minAlphaFrac: Double = 0.8,
                         minStopwords: Int = 2,
                         passthroughCols: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val ws = tokens(t)
    val nWords = size(ws).cast("long")
    // integer char sum / long count — exact, then one double division
    val meanLen = aggregate(ws, lit(0L), (acc, w) => acc + length(w))
      .cast("double") / nWords.cast("double")
    val nSymbols =
      ((length(t) - length(regexp_replace(t, "#", ""))) +
        (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3)
        .cast("double")
    val symbolRatio = nSymbols / nWords.cast("double")
    val lines = split(t, "\n")
    val nLines = size(lines).cast("double")
    val bulletFrac = size(filter(lines,
      l => l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
      .cast("double") / nLines
    val ellipsisFrac = size(filter(lines, l => l.endsWith("...")))
      .cast("double") / nLines
    val alphaFrac = size(filter(ws, w => w.rlike("[A-Za-z]")))
      .cast("double") / nWords.cast("double")
    val stopLit = array(gopherStopwords.map(lit): _*)
    val nStop = size(filter(ws, w => array_contains(stopLit, lower(w))))
      .cast("long")
    docs.select(Seq(col(idCol), nWords.as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(symbolRatio, 6).as("symbol_ratio"),
      round(bulletFrac, 6).as("bullet_frac"),
      round(ellipsisFrac, 6).as("ellipsis_frac"),
      round(alphaFrac, 6).as("alpha_frac"),
      nStop.as("n_stop"),
      (nWords >= minWords && nWords <= maxWords &&
        meanLen >= minMeanWordLen && meanLen <= maxMeanWordLen &&
        symbolRatio <= maxSymbolRatio &&
        bulletFrac <= maxBulletFrac &&
        ellipsisFrac <= maxEllipsisFrac &&
        alphaFrac >= minAlphaFrac &&
        nStop >= minStopwords).as("keep")) ++
      passthroughCols.map(col): _*)
  }

  /** Fraction of duplicated word n-grams in a document — the
    * repetition-quality signal used by large-LM data pipelines (a high
    * value flags template spam and degenerate repetition): 1 −
    * distinct/total over the document's consecutive n-grams (NOT the
    * deduplicated shingle set — duplicates are the point). 0.0 for
    * documents shorter than n words. Pure per-row projection of
    * codegen'd builtins — zero shuffle at any scale. */
  def dupNgramFraction(text: Column, n: Int): Column = {
    val total = size(tokens(text)) - lit(n - 1)
    // distinct count via the native shingle expression — one compiled
    // pass per document vs ~20 µs/element for an interpreted
    // transform+array_distinct HOF chain (measured 6× on the sf0.1
    // bench). Distinct-by-64-bit-hash equals distinct-by-string up to
    // collisions (~m²/2⁶⁵ per doc — negligible at any document size).
    val distinct =
      size(org.apache.spark.sql.graftext.HashedNGramShingles(text, n))
    when(total >= 1,
      round(lit(1.0) -
        distinct.cast("double") / total.cast("double"), 6))
      .otherwise(lit(0.0))
  }

  /** Per-document repetition report over unigrams..trigrams. */
  def repetitionScores(docs: DataFrame, idCol: String,
                       textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol),
      tokenCount(t).as("n_words"),
      dupNgramFraction(t, 1).as("dup_frac_1"),
      dupNgramFraction(t, 2).as("dup_frac_2"),
      dupNgramFraction(t, 3).as("dup_frac_3"))
  }

  /** Gopher repetition-removal gate (Rae et al. 2021, Appendix A —
    * the companion to [[gopherQualityFlags]], which covers the quality
    * rules; this covers the 13 published REPETITION rules):
    *
    *   - duplicate line / paragraph fraction (1 − distinct/total
    *     segments) ≤ maxDupLineFrac / maxDupParaFrac
    *   - duplicate line / paragraph CHARACTER fraction (chars in
    *     segments occurring ≥ 2 times, all occurrences, over all
    *     segment chars) ≤ maxDupLineCharFrac / maxDupParaCharFrac
    *   - top n-gram character fraction for n = 2..4 (largest
    *     occurrences × gramLen share of any single n-gram) ≤ the
    *     per-n threshold
    *   - duplicated n-gram character fraction for n = 5..10 (share of
    *     chars in n-grams occurring ≥ 2 times, capped at 1 — see
    *     [[org.apache.spark.sql.graftext.NgramCharFraction]] for the
    *     exact overlap semantics) ≤ the per-n threshold
    *
    * Default thresholds are the published Table A1 values. Paragraphs
    * split on a blank line (`\n\n`), lines on `\n` — both literal, so
    * an external SQL oracle's `string_split` agrees exactly.
    *
    * Ratios are rounded to 6 decimals for engine-replicable output; the
    * keep decision uses the UNROUNDED values ([[gopherQualityFlags]]'
    * discipline). Per-document work happens in native one-pass
    * expressions and codegen'd builtins — zero shuffle at any scale,
    * the same scan-speed shape as the quality gate, so the two compose
    * into the full Gopher filter at one scan's cost.
    * `passthroughCols` ride along unchanged (streaming form).
    *
    * `keep` is pinned to this projection ([[org.apache.spark.sql.graftext.PlanAnchor]]):
    * a later filter on it would otherwise be pushed below an upstream
    * join (a dedup anti-join) with every ratio inlined into the
    * predicate, and the n-gram kernels would run twice per document —
    * once in the pushed filter, once here. */
  def gopherRepetitionFlags(docs: DataFrame, idCol: String = "doc_id",
                            textCol: String = "text",
                            maxDupLineFrac: Double = 0.30,
                            maxDupParaFrac: Double = 0.30,
                            maxDupLineCharFrac: Double = 0.20,
                            maxDupParaCharFrac: Double = 0.20,
                            maxTopGramCharFrac: Seq[(Int, Double)] =
                              Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16),
                            maxDupGramCharFrac: Seq[(Int, Double)] =
                              Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13,
                                8 -> 0.12, 9 -> 0.11, 10 -> 0.10),
                            passthroughCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.graftext.{DupSegmentCharFraction, NgramCharFractions, PlanAnchor}
    val t = col(textCol)
    def dupSegFrac(segs: Column): Column =
      lit(1.0) - size(array_distinct(segs)).cast("double") /
        size(segs).cast("double")
    val dupLine = dupSegFrac(split(t, "\n"))
    val dupPara = dupSegFrac(split(t, "\n\n"))
    val dupLineChars = DupSegmentCharFraction(t, "\n")
    val dupParaChars = DupSegmentCharFraction(t, "\n\n")
    // ONE fused pass for all 9 gram widths (split + word hashing once);
    // materialized behind an alias in a first projection so every
    // downstream reference is a cheap array index — CollapseProject
    // keeps the non-cheap multi-use producer in its own Project, so the
    // expression is evaluated once per row
    val repCol = "_graft_rep_fracs"
    val staged = docs.withColumn(repCol,
      NgramCharFractions(t, maxTopGramCharFrac.map(_._1),
        maxDupGramCharFrac.map(_._1)))
    val tops = maxTopGramCharFrac.zipWithIndex.map { case ((n, th), i) =>
      (n, th, col(repCol)(i)) }
    val dups = maxDupGramCharFrac.zipWithIndex.map { case ((n, th), i) =>
      (n, th, col(repCol)(maxTopGramCharFrac.size + i)) }
    val keep = Seq(
      dupLine <= maxDupLineFrac, dupPara <= maxDupParaFrac,
      dupLineChars <= maxDupLineCharFrac,
      dupParaChars <= maxDupParaCharFrac) ++
      (tops ++ dups).map { case (_, th, c) => c <= th }
    staged.select(Seq(col(idCol),
      round(dupLine, 6).as("dup_line_frac"),
      round(dupPara, 6).as("dup_para_frac"),
      round(dupLineChars, 6).as("dup_line_char_frac"),
      round(dupParaChars, 6).as("dup_para_char_frac")) ++
      tops.map { case (n, _, c) => round(c, 6).as(s"top_${n}gram_char_frac") } ++
      dups.map { case (n, _, c) => round(c, 6).as(s"dup_${n}gram_char_frac") } ++
      Seq(PlanAnchor(keep.reduce(_ && _)).as("keep")) ++
      passthroughCols.map(col): _*)
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning", §2.2 — the "colossal clean crawled
    * corpus" heuristics): keep only lines that end in terminal
    * punctuation (`.` `!` `?` `"`), have ≥ `minWordsPerLine` words, and
    * don't mention "javascript"; then gate the cleaned document on
    * ≥ `minSentences` sentences (terminal-punctuation count over the
    * KEPT lines) and on the page-level rules — no "lorem ipsum", no
    * `{` (the code-page heuristic) anywhere in the ORIGINAL text.
    *
    * Emits (id, text_clean, n_lines, n_lines_kept, n_sentences, keep).
    * Line-span dedup — C4's other stage — is [[graft.operators.Dedup
    * .dedupPassages]]/`dedupTokenSpans`; this operator is the
    * heuristic-cleaning stage. Pure codegen'd projection (split +
    * filter + array_join + translate) — zero shuffle at any scale.
    * `passthroughCols` ride along unchanged (streaming form).
    *
    * Defaults are the paper's constants: lines kept at ≥ 5 words,
    * pages kept at ≥ 3 sentences. */
  def c4Clean(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              minWordsPerLine: Int = 5, minSentences: Int = 3,
              passthroughCols: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val lines = split(t, "\n")
    val kept = filter(lines, l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
        l.endsWith("\"")) &&
        size(split(l, " ")) >= minWordsPerLine &&
        !lower(l).contains("javascript"))
    val cleaned = array_join(kept, "\n")
    val nSentences =
      (length(cleaned) - length(translate(cleaned, ".!?", ""))).cast("long")
    val keep = nSentences >= minSentences &&
      !lower(t).contains("lorem ipsum") && !t.contains("{")
    docs.select(Seq(col(idCol),
      cleaned.as("text_clean"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_lines_kept"),
      nSentences.as("n_sentences"),
      keep.as("keep")) ++
      passthroughCols.map(col): _*)
  }

  /** Top-N frequent tokens per group via a Misra-Gries heavy-hitters
    * summary ([[org.apache.spark.sql.graftext.HeavyHittersSketch]]) —
    * the bounded-state alternative to [[buildVocab]]'s explode+groupBy,
    * whose shuffle grows with corpus VOCABULARY: here each partition
    * ships one ≤ `capacity`-counter summary per group, fixed-size at any
    * scale.
    *
    * Emits one row per (group, rank): (groupCols…, rank, term,
    * count_lb, max_err). `count_lb` is a lower bound with
    * `true ≤ count_lb + max_err`; with `capacity ≥` the group's distinct
    * tokens every count is exact, `max_err` = 0, and the result is
    * partition-order-independent — the oracle-able parameterization.
    * Ranking ties break on term, so output order is deterministic
    * either way. */
  def heavyHitterTokens(docs: DataFrame, textCol: String = "text",
                        groupCols: Seq[String] = Nil,
                        capacity: Int = 4096, topN: Int = 20): DataFrame = {
    import org.apache.spark.sql.graftext.HeavyHittersSketch
    val sketch = HeavyHittersSketch(tokens(col(textCol)), capacity).as("hh")
    val agged =
      if (groupCols.isEmpty) docs.groupBy().agg(sketch)
      else docs.groupBy(groupCols.map(col): _*).agg(sketch)
    agged.select(groupCols.map(col) :+ posexplode(col("hh")): _*)
      .filter(col("pos") < topN)
      .select(groupCols.map(col) ++ Seq(
        (col("pos") + 1).cast("int").as("rank"),
        col("col.term").as("term"),
        col("col.count_lb").as("count_lb"),
        col("col.max_err").as("max_err")): _*)
  }

  /** Approximate distinct-token (vocabulary-size) count per group via a
    * k-minimum-values sketch ([[org.apache.spark.sql.graftext.KmvDistinctSketch]]).
    *
    * Scale story: exact `count(distinct)` shuffles every distinct key
    * (unbounded in vocabulary); this exchange carries ≤ k 8-byte hashes
    * per group. Unlike HLL (`approx_count_distinct`), the KMV estimate
    * is a pure function of the SET of hashed tokens — independent of
    * partitioning and row order — and uses the repo's standard MD5-48bit
    * hash, so an external SQL engine replicates it bit-for-bit: a fully
    * oracle-able approximate distinct count, in the SKETCH regime, not
    * just a degenerate exact one. Relative error ~1/sqrt(k-2).
    *
    * Emits one row per group: groupCols + (est_distinct double,
    * kept int, exact boolean). */
  def approxDistinctTokens(docs: DataFrame, textCol: String = "text",
                           groupCols: Seq[String] = Nil,
                           k: Int = 1024): DataFrame = {
    import org.apache.spark.sql.graftext.KmvDistinctSketch
    val sketch = KmvDistinctSketch(tokens(col(textCol)), k).as("kmv")
    val agged =
      if (groupCols.isEmpty) docs.groupBy().agg(sketch)
      else docs.groupBy(groupCols.map(col): _*).agg(sketch)
    agged.select(groupCols.map(col) ++ Seq(
      col("kmv.estimate").as("est_distinct"),
      col("kmv.kept").as("kept"),
      col("kmv.exact").as("exact")): _*)
  }

  /** Overlapping context-window chunking: split each document into
    * token windows of `maxTokens` with `overlap` tokens shared between
    * consecutive windows (stride = maxTokens − overlap) — how long
    * documents become training examples under a fixed context size.
    * Output: (id, chunk_id [0-based], n_tokens, chunk) with the final
    * (possibly short) window included. Pure codegen'd projection: the
    * windows of a document are computed entirely within its row, zero
    * shuffles at any corpus size. */
  def chunkByTokens(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", maxTokens: Int = 512,
                    overlap: Int = 64): DataFrame = {
    require(maxTokens >= 1, "maxTokens must be >= 1")
    require(overlap >= 0 && overlap < maxTokens,
      "overlap must be in [0, maxTokens)")
    val stride = maxTokens - overlap
    docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("w"))
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, greatest(size(w) - 1, 0), $stride), " +
          s"s -> slice(w, s + 1, $maxTokens))"))
        .as(Seq("chunk_id", "cw")))
      .select(col("id"), col("chunk_id"),
        size(col("cw")).as("n_tokens"),
        array_join(col("cw"), " ").as("chunk"))
  }

  /** Per-document keyword extraction by tf-idf: each document's top-k
    * tokens ranked by tf · ln(N/df), ties broken by token — the
    * classic summarization / tagging primitive. Output: (id, rank,
    * token, tf, df, tfidf[rounded 6]).
    *
    * Scale shape: ONE corpus-scale exchange keyed by token — the
    * (token, doc) tf groupBy — and the per-token df rides a window over
    * that same partitioning (the bm25 trick, no second token shuffle).
    * The per-doc ranking then shuffles ≤ the doc's distinct tokens per
    * row and takes the WindowGroupLimit partial-top-k rewrite. N (the
    * corpus count) is the only driver scalar. The tfidf product is one
    * IEEE multiply of exact counts with one ln — bit-replicable. */
  def keywordsTfIdf(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id", topK: Int = 5): DataFrame = {
    val n = docs.count()
    val postings = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .repartition(col("token"))
      .groupBy(col("token"), col("id"))
      .agg(count(lit(1)).as("tf"))
    val withDf = postings.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("token"))))
      .withColumn("tfidf",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tfidf").desc, col("token"))
    withDf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("id"), col("rank").cast("int").as("rank"), col("token"),
        col("tf"), col("df"), col("tfidf"))
  }

  /** Corpus collocations by pointwise mutual information: the top-n
    * adjacent word pairs by PMI = ln(p(ab) / (p(a)·p(b))) among pairs
    * with count ≥ `minCount` (the Church & Hanks 1990 association
    * measure; the frequency floor keeps one-off typo pairs from
    * dominating, as they otherwise always do — PMI is maximal for
    * hapaxes). Output: (rank, w1, w2, pair_count, pmi[rounded 6]),
    * ranked (pmi desc, w1, w2).
    *
    * Scale shape: two keyed count aggregates (bigrams, unigrams) and a
    * broadcast of the unigram totals onto the SURVIVING bigrams (the
    * minCount filter runs first, so the join input is already small);
    * totals are two driver scalars. Top-n rides the rank-filter
    * rewrite. */
  def collocationsPmi(docs: DataFrame, textCol: String = "text",
                      minCount: Long = 5, topN: Int = 20): DataFrame = {
    val toks = docs.select(tokens(col(textCol)).as("w"))
    // guarded: Spark's sequence(1, 0) counts DOWN, so one-word docs
    // must yield no pairs, not a negative index
    val bigrams = toks.select(explode(expr(
        "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), " +
          "i -> struct(w[i-1] as w1, w[i] as w2)) " +
          "ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) " +
          "END")).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_count"))
    val unigramsRaw = toks.select(explode(col("w")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    // both count tables are read twice (a total + a broadcast join);
    // one lazy materialization instead of re-deriving the corpus scan
    // (the TextClassify.lik / trainBpe discipline)
    val unigrams = unigramsRaw.truncateLineage(false)
    val bigramsCk = bigrams.truncateLineage(false)
    val totals = unigrams.agg(sum(col("c"))).head()
    // empty corpus (or no multi-word doc): sum() is null — return the
    // empty result instead of NPEing on the driver
    if (totals.isNullAt(0))
      return bigramsCk.limit(0).select(lit(1).as("rank"), col("w1"),
        col("w2"), col("pair_count"), lit(0.0).as("pmi"))
    val totalTokens = totals.getLong(0).toDouble
    val pairTotals = bigramsCk.agg(sum(col("pair_count"))).head()
    if (pairTotals.isNullAt(0))
      return bigramsCk.limit(0).select(lit(1).as("rank"), col("w1"),
        col("w2"), col("pair_count"), lit(0.0).as("pmi"))
    val totalPairs = pairTotals.getLong(0).toDouble
    val surviving = bigramsCk.filter(col("pair_count") >= minCount)
    val scored = surviving
      .join(broadcast(unigrams.select(col("t").as("w1"), col("c").as("c1"))),
        Seq("w1"))
      .join(broadcast(unigrams.select(col("t").as("w2"), col("c").as("c2"))),
        Seq("w2"))
      .withColumn("pmi", round(
        log((col("pair_count") / totalPairs) /
          ((col("c1") / totalTokens) * (col("c2") / totalTokens))), 6))
    // global top-n WITHOUT a global window: TakeOrderedAndProject keeps
    // per-partition heaps, then the <= topN survivors rank locally
    // (the buildVocab pattern)
    scored
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(topN)
      .coalesce(1)
      .sortWithinPartitions(col("pmi").desc, col("w1"), col("w2"))
      .withColumn("rank", (monotonically_increasing_id() + 1).cast("int"))
      .select(col("rank"), col("w1"), col("w2"),
        col("pair_count"), col("pmi"))
  }

  /** Line-level code detection — the prose-vs-code router a mixed
    * crawl needs before tokenizer/quality decisions (code wants a
    * byte-level tokenizer and different quality gates than prose;
    * StarCoder-style pipelines gate on exactly this signal). Three
    * deliberately small, engine-replicable rules mark a non-empty
    * line as code-like: a ≥4-space/tab indent, a `;`/`{`/`}` line
    * end, or a programming keyword. Output per document:
    * `(id, n_lines, code_lines, code_frac, is_codey)` with
    * `code_frac` rounded to 6 decimals BEFORE the threshold compare
    * (so the flag is reproducible across engines).
    *
    * Scale shape: one narrow projection over the scan — the line
    * array materializes behind its own select boundary so the three
    * per-line regexes run against bound elements, not a re-`split`
    * per element (Spark HOF lambdas have no CSE). */
  def codeLineStats(docs: DataFrame, textCol: String = "text",
                    threshold: Double = 0.3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0,1]")
    val isCode = (l: Column) =>
      l.rlike("^(\\s{4,}|\\t)") || l.rlike("[;{}]\\s*$") ||
        l.rlike("\\b(def|class|import|return|function|const|let)\\b")
    docs
      // every input column passes through (the chainable-step
      // contract); the non-empty-line array is multiply-referenced
      // and non-cheap, so CollapseProject keeps it materialized and
      // the per-line regexes run against bound elements, not a
      // re-split per HOF element
      .withColumn("__nz", filter(split(col(textCol), "\n"),
        l => length(trim(l)) > 0))
      .withColumn("n_lines", size(col("__nz")))
      .withColumn("code_lines", size(filter(col("__nz"), isCode)))
      .drop("__nz")
      .withColumn("code_frac",
        when(col("n_lines") > 0,
          round(col("code_lines").cast("double") / col("n_lines"), 6)))
      .withColumn("is_codey",
        when(col("n_lines") > 0, col("code_frac") >= threshold)
          .otherwise(lit(false)))
  }

  /** Convenience: annotate a documents table with the full analysis set. */
  def annotate(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("type_token_ratio", round(typeTokenRatio(t), 6))
      .withColumn("mean_token_len", round(meanTokenLength(t), 6))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_pred", langIdHeuristic(t))
      .withColumn("fingerprint", fingerprint(t))
  }
}
