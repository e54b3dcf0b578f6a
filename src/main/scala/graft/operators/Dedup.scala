package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints.TruncateOps

/** Deduplication operators for large-scale corpora: exact, exact-Jaccard
  * via inverted index, MinHash+LSH, and SimHash.
  *
  * Scale design (the 100 TB posture):
  *   - Exact dedup is a single hash-aggregate on a 128-bit fingerprint —
  *     one shuffle keyed by digest, map-side partial aggregation free.
  *   - Exact Jaccard avoids the O(n²) cross join with a shingle inverted
  *     index: only documents sharing ≥1 shingle ever meet, and any pair
  *     with Jaccard > 0 shares a shingle, so recall is exactly 1.
  *   - MinHash-LSH is the sub-quadratic path: candidate pairs come from
  *     banded-signature buckets (shuffle keyed by (band, signature) — skew
  *     from degenerate buckets is bounded by the band width), then
  *     candidates are verified with exact Jaccard so precision is 1 and
  *     output quality is independent of the sketch.
  *   - SimHash packs a document into one 64-bit signature; the pigeonhole
  *     chunk join guarantees recall for Hamming distance ≤ (chunks-1),
  *     with a final exact-Jaccard verification.
  */
object Dedup {

  /** Blocked edit-distance pairing — entity-resolution for short
    * strings (names, titles, canonical labels): emit (id_a, id_b,
    * dist) for every same-block pair within Levenshtein `maxDist`.
    * The block key is the string's last whitespace token (the head
    * noun of name-like strings); only pairs sharing a block ever meet,
    * which is the standard blocking recall contract — a typo in the
    * blocking token itself escapes the net (use multiple passes with
    * different keys to tighten).
    *
    * Scale shape: the self-join is keyed by block, and `maxBlock`
    * drops blocks larger than the cap BEFORE the join (the
    * winnowOverlapPairs maxDf lesson: one degenerate key must not
    * form a quadratic bucket — the cap is finite by default and
    * enforced structurally). A cheap length-difference bound prunes
    * before the O(len²) distance; the threshold form of `levenshtein`
    * abandons rows early once the budget is exceeded. Run it on the
    * DISTINCT value inventory (with a representative id), not raw
    * rows — dictionaries are small even when corpora are not. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int = 2,
                        maxBlock: Int = 1000): DataFrame = {
    require(maxDist >= 1 && maxBlock >= 2, "need maxDist >= 1, maxBlock >= 2")
    blockedSelfJoin(df, idCol, strCol, maxBlock)
      .filter(abs(length(col("__sa")) - length(col("__sb"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("__sa"), col("__sb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** The blocking scaffold [[editDistancePairs]] and
    * [[jaroWinklerPairs]] share: last-whitespace-token blocks, blocks
    * beyond `maxBlock` dropped BEFORE the self-join (the structural
    * quadratic-bucket guard), candidate pairs with id_a < id_b.
    * Returns (id_a, __sa, id_b, __sb) for the caller's scorer. */
  private def blockedSelfJoin(df: DataFrame, idCol: String,
                              strCol: String, maxBlock: Int): DataFrame = {
    val base = df.select(col(idCol).as("__id"), col(strCol).as("__s"),
      element_at(split(col(strCol), " "), -1).as("__blk"))
    val counts = base.groupBy(col("__blk")).agg(count(lit(1)).as("__bc"))
    val capped = base.join(counts, Seq("__blk"))
      .filter(col("__bc") <= maxBlock)
    val left = capped.select(col("__blk"), col("__id").as("id_a"),
      col("__s").as("__sa"))
    val right = capped.select(col("__blk"), col("__id").as("id_b"),
      col("__s").as("__sb"))
    left.join(right, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
  }

  /** Blocked Jaro-Winkler pairing — [[editDistancePairs]]'s sibling
    * with the length-normalized name-matching scorer instead of a raw
    * edit count, so ONE threshold serves short and long names alike
    * (a 2-edit typo is fatal in a 5-char name, noise in a 40-char
    * one). Same blocking contract and the same structural cap: pairs
    * meet only inside their last-token block, and blocks beyond
    * `maxBlock` are dropped BEFORE the self-join so a degenerate key
    * cannot form a quadratic bucket. The scorer is the native
    * codegen'd [[org.apache.spark.sql.graftext.JaroWinkler]]
    * expression (also on the SQL surface as `jaro_winkler`), pinned to
    * the DuckDB/rapidfuzz parameterization so results replicate
    * externally. Output: (id_a, id_b, jw[round 6]) with id_a < id_b,
    * jw ≥ threshold. */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
                       threshold: Double = 0.9,
                       maxBlock: Int = 1000): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      "threshold must be in (0, 1]")
    require(maxBlock >= 2, "need maxBlock >= 2")
    blockedSelfJoin(df, idCol, strCol, maxBlock)
      .withColumn("jw", round(
        org.apache.spark.sql.graftext.JaroWinkler(
          col("__sa"), col("__sb")), 6))
      .filter(col("jw") >= threshold)
      .select(col("id_a"), col("id_b"), col("jw"))
  }

  /** Exact-duplicate summary: one row per distinct content fingerprint
    * with its cardinality and the keeper (minimum) id. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keeper_id"))

  /** Documents with one representative row kept per exact content match. */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** (id, shingleSet, setSize) prep used by the Jaccard paths. Shingles
    * are 64-bit hashes (TextAnalysis.hashedShingles): set semantics are
    * identical and every downstream sort/join/intersect runs on longs. */
  private def shingled(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    docs.select(
      col(idCol).as("id"),
      TextAnalysis.hashedShingles(col(textCol), n).as("shingles"))
      .withColumn("set_size", size(col("shingles")))
      .filter(col("set_size") > 0)
      // not checkpointed here: shingling is one native-expression pass,
      // and re-deriving it per join branch measures ~15% FASTER than
      // paying the checkpoint write barrier (sf0.1). An expensive
      // UPSTREAM is the caller's to pin: a config job's
      // drop_near_duplicates persists its input for the job (Pipeline's
      // JobScope), so every branch here, and the anti-join after it,
      // re-reads cached rows instead of re-running the steps before it

  /** All pairs with n-gram Jaccard similarity ≥ `threshold`, computed
    * exactly via a prefix-filtered shingle inverted index.
    *
    * Two lossless prunes on the inverted index (both classical
    * set-similarity-join results, cf. ppjoin):
    *   - size filter: J ≥ t implies t·|B| ≤ |A| ≤ |B|/t;
    *   - prefix filter: under a global shingle order, any pair with
    *     J ≥ t must share a shingle within each set's first
    *     |s| − ⌈t·|s|⌉ + 1 sorted shingles, so only that prefix is
    *     indexed — at t=0.5 the postings halve and the candidate join
    *     shrinks ~4×.
    * Candidates are then verified against the full shingle sets, so
    * recall is exactly 1. Output: (id_a, id_b, jaccard) with id_a < id_b. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingled(docs, idCol, textCol, n)
    val posting = sh.select(col("id"), col("set_size"),
      explode(col("shingles")).as("shingle"))
    // Global order = ascending document frequency: each doc's indexed
    // prefix then holds its RAREST shingles, so postings lists in the
    // candidate join stay short — a frequent shingle never lands in a
    // prefix and can't produce a quadratic bucket. One extra aggregate +
    // join, still exact.
    val docFreq = posting.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("id"))
      .orderBy(col("df"), col("shingle"))
    val prefixLen = col("set_size") -
      ceil(col("set_size") * lit(threshold)) + 1
    val prefix = posting.join(docFreq, "shingle")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= prefixLen)
      .select(col("id"), col("set_size"), col("shingle"))
      // not checkpointed: the self-join's two reads re-derive the prefix,
      // which still beats the write barrier here (re-measured r17: a
      // truncation here is 1.6× SLOWER at sf0.1 — the prefix is
      // corpus-sized, so the checkpoint materialization costs more than
      // the second window pass, unlike tfidfCosinePairs' doc-sized norms)
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.id") < col("b.id") &&
        col("a.set_size") * lit(threshold) <= col("b.set_size") &&
        col("b.set_size") * lit(threshold) <= col("a.set_size"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(candidates, sh, threshold)
  }

  /** All document pairs with tf-idf weighted cosine ≥ `threshold` —
    * EXACT all-pairs similarity search over the sparse term space
    * (Bayardo et al. 2007, "Scaling Up All Pairs Similarity Search"):
    * the weighted complement to [[jaccardPairs]]' set semantics —
    * token REPETITION and term RARITY both matter, so a template page
    * differing only in its rare identifiers separates from a true
    * near-dup in a way set overlap cannot see.
    *
    * Lossless L2 prefix filter: terms order canonically (df ascending,
    * term — rare first, so indexed postings are short by
    * construction); doc x indexes term k only while the suffix from k
    * onward carries ≥ `threshold` of x's L2 mass (if every shared term
    * lay strictly after the prefix, Cauchy-Schwarz caps the cosine
    * below t, so a qualifying pair must collide on an indexed term of
    * at least one side). Candidates verify with full sparse dot
    * products — recall exactly 1, precision 1. Per-term products and
    * squared weights round to 9 decimals and sum as DECIMAL, so every
    * cosine is summation-order independent and the DuckDB oracle
    * replicates scores exactly (the oracle is exhaustive — the filter
    * is engine-side only and never has to be replicated).
    *
    * Output: (id_a, id_b, cosine) with id_a < id_b, cosine rounded 6.
    * On suffix-disjoint corpora (replica probes) cross-group
    * candidates vanish entirely — pair volume tracks true pairs. */
  def tfidfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.8, n: Int = 1): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0,1]")
    require(n >= 1, "n must be >= 1")
    val nDocs = docs.count()
    require(nDocs > 0, "empty corpus")
    // n = 1: unigram tf-idf (repetition-sensitive, the dense regime —
    // the prefix index degenerates when the vocabulary is tiny, see
    // below). n > 1: distinct word n-gram shingles as terms (tf = 1,
    // weights pure idf) — the SPARSE space all-pairs search is built
    // for: shingle df is near-1 by construction, so posting lists and
    // therefore candidates track true pairs
    val toks = if (n == 1) TextAnalysis.tokens(col(textCol))
               else TextAnalysis.shingles(col(textCol), n)
    val terms = docs.select(col(idCol).as("id"),
        explode(toks).as("w"))
      .groupBy(col("id"), col("w")).agg(count(lit(1)).as("tf"))
    val dfTbl = terms.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val weighted = terms.join(dfTbl, Seq("w"))
      .withColumn("wt", col("tf").cast("double") *
        log(lit(1.0) + lit(nDocs.toDouble) / col("df").cast("double")))
      .withColumn("p2", round(col("wt") * col("wt"), 9)
        .cast("decimal(28,9)"))
      .truncateLineage(false)
    // three consumers (suffix build + the two na/nb verify joins):
    // materialize once instead of re-aggregating weighted per read
    val norms = weighted.groupBy(col("id"))
      .agg(sum(col("p2")).cast("decimal(28,9)").as("nrm2"))
      .truncateLineage(false)
    // canonical rare-first order; every (id, term) row carries the L2
    // mass of its suffix FROM that term (engine-side bounds — double
    // arithmetic here never reaches the oracle)
    val byRarity = Window.partitionBy(col("id"))
      .orderBy(col("df"), col("w"))
    val withSuf = weighted.join(norms, Seq("id"))
      .withColumn("cum", sum(col("p2")).over(byRarity))
      .withColumn("suf",
        (col("nrm2") - col("cum") + col("p2")).cast("double"))
      .select(col("id"), col("w"), col("suf"),
        col("nrm2").cast("double").as("n2"))
      .truncateLineage(false)
    // index term k while the suffix from k keeps >= t of the L2 mass
    val prefix = withSuf.filter(col("suf") >=
      lit(threshold * threshold) * col("n2"))
    // PREFIX x PREFIX join (the symmetric ssjoin/ppjoin form — still
    // lossless): consider a qualifying pair's FIRST shared term w*
    // under the canonical order. All shared terms lie at-or-after w*
    // in BOTH documents' local orders, so by Cauchy-Schwarz
    // dot <= sqrt(sufA(w*))·sqrt(sufB(w*)) <= sqrt(nA)·sqrt(sufB(w*));
    // if w* were beyond b's prefix (sufB < t²·nB) that gives
    // cos < t — contradiction. The argument is per-side independent,
    // so w* sits in a's prefix AND b's prefix, and the pair collides
    // prefix-to-prefix at w*. Joining full posting lists (the previous
    // form) admits every corpus-common-term collision: measured 97.9M
    // raw collisions at sf0.1/t=0.9 vs 0.66M for prefix x prefix.
    // The L2 positional filter (Anastasiu & Karypis 2014) stacks on
    // top: at w* both suffixes are maximal over shared terms and
    // cos >= t forces sufA·sufB >= t²·nA·nB there, so requiring it on
    // the collision keeps every true pair's w* collision.
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.w") === col("b.w") && col("a.id") =!= col("b.id") &&
        col("a.suf") * col("b.suf") >=
          lit(threshold * threshold) * col("a.n2") * col("b.n2"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val num = candidates
      .join(weighted.select(col("id").as("id_a"), col("w"),
        col("wt").as("wa")), Seq("id_a"))
      .join(weighted.select(col("id").as("id_b"), col("w"),
        col("wt").as("wb")), Seq("id_b", "w"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(round(col("wa") * col("wb"), 9).cast("decimal(28,9)"))
        .cast("decimal(28,9)").as("num"))
    val cos = col("num").cast("double") /
      (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double")))
    num
      .join(norms.select(col("id").as("id_a"), col("nrm2").as("na")),
        Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("nrm2").as("nb")),
        Seq("id_b"))
      .filter(cos >= threshold)
      .select(col("id_a"), col("id_b"), round(cos, 6).as("cosine"))
  }

  /** All directed pairs with shingle containment |A∩B|/|A| ≥ `threshold`
    * — the asymmetric complement to [[jaccardPairs]]: detects a document
    * substantially CONTAINED in another (quotes, excerpts, subset
    * crawls) that symmetric Jaccard misses whenever the container is
    * much larger (J = |A∩B|/|A∪B| → 0 as |B| grows, containment
    * doesn't).
    *
    * Exact, via an asymmetric prefix-filtered inverted index:
    *   - the contained side indexes only its prefix — under the global
    *     df-ascending shingle order, a pair with C ≥ t must share a
    *     shingle within A's first |A| − ⌈t·|A|⌉ + 1 rarest shingles
    *     (lossless, same argument as the Jaccard prefix filter; no size
    *     filter exists because B is unbounded above);
    *   - the container side must index ALL its shingles — but the join
    *     key always comes from a PREFIX (rare by construction), so a
    *     corpus-common shingle's long posting list is never probed and
    *     no quadratic bucket can form.
    * Candidates verify against full shingle sets: recall exactly 1.
    * Output: (id_a, id_b, containment) — id_a contained in id_b,
    * id_a ≠ id_b, both directions reported when both exceed t. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0,1]")
    val sh = shingled(docs, idCol, textCol, n)
    val posting = sh.select(col("id"), col("set_size"),
      explode(col("shingles")).as("shingle"))
    val docFreq = posting.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("id"))
      .orderBy(col("df"), col("shingle"))
    val prefixLen = col("set_size") -
      ceil(col("set_size") * lit(threshold)) + 1
    val prefix = posting.join(docFreq, "shingle")
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= prefixLen)
      .select(col("id"), col("shingle"))
    val candidates = prefix.as("a").join(
        posting.select(col("id"), col("shingle")).as("b"),
        col("a.shingle") === col("b.shingle") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    candidates
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")),
        "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")),
        "id_b")
      .withColumn("n_common",
        size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("containment",
        col("n_common").cast("double") / size(col("sh_a")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** MinHash-LSH near-duplicate pairs, exact-verified.
    *
    * Signature: `numHashes` permutations simulated as
    * `min(xxhash64(seed_k, shingle))`; banded into `bands` buckets of
    * `numHashes/bands` rows; candidate pairs from bucket co-occurrence are
    * verified with exact Jaccard against the shingle sets, so the output
    * equals [[jaccardPairs]] whenever every true pair collides in ≥1 band
    * (at `threshold` 0.5 with 32×2 banding, a pair at s=0.9 is missed with
    * probability (1-0.9²)^32 ≈ 2e-23).
    */
  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sh = shingled(docs, idCol, textCol, n)

    // Signature via the one-pass MinHashSketch TypedImperativeAggregate
    // (inside bandedSignatures): no generator multiplying rows before
    // the partial aggregate, O(k) state per doc, hash-identical to the
    // xxhash64(k, shingle) expression formulation (pinned by spec).
    val banded = bandedSignatures(sh, numHashes, bands, rows)

    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    verifyJaccard(candidates, sh, threshold)
  }

  /** (id, band, bucket) rows of every document's banded MinHash
    * signature — the LSH index layout shared by the one-corpus and
    * incremental joins. */
  private def bandedSignatures(sh: DataFrame, numHashes: Int,
                               bands: Int, rows: Int): DataFrame =
    sh.groupBy(col("id")).agg(
        org.apache.spark.sql.graftext.MinHashSketch(col("shingles"), numHashes)
          .as("sig"))
      .select(col("id"),
        explode(bandBuckets(col("sig"), bands, rows)).as("bb"))
      .select(col("id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))

  /** Near-duplicate pairs between a NEW batch and an EXISTING corpus —
    * the incremental-ingest form of [[minHashLshPairs]]: an arriving
    * batch is deduped against what is already stored without ever
    * pairing corpus×corpus (that work happened when those documents
    * arrived) or batch×batch (run [[minHashLshPairs]] on the batch for
    * that). Candidates come from banded-signature buckets BETWEEN the
    * sides only, then exact-Jaccard verification, so precision is 1.
    * Output: (id_a = corpus id, id_b = batch id, jaccard) — feed to
    * [[dropNearDuplicates]] with the batch frame to reject already-seen
    * content.
    *
    * Scale shape: the corpus's banded signatures are re-derived here,
    * but in steady state they are write-once — persist the
    * (id, band, bucket) frame next to the corpus and append each
    * accepted batch's bands — after which per-batch work is hashing the
    * batch plus one bucket-keyed join ∝ the batch's bands, independent
    * of corpus size. */
  def minHashLshPairsAgainst(newDocs: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String,
                             n: Int = 3, numHashes: Int = 64,
                             bands: Int = 32,
                             threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val shNew = shingled(newDocs, idCol, textCol, n)
    val shOld = shingled(corpus, idCol, textCol, n)
    val candidates = bandedSignatures(shOld, numHashes, bands, rows).as("a")
      .join(bandedSignatures(shNew, numHashes, bands, rows).as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard2(candidates, shOld, shNew, threshold)
  }

  /** One (band, bucket) struct per band of a MinHash signature: the
    * bucket is a 64-bit variadic `xxhash64` of the band's signature
    * slots (no string concat). Shared by the batch LSH join and the
    * streaming stateful-band dedup so both hash into identical buckets. */
  def bandBuckets(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b) +:
          (0 until rows).map(r => element_at(sig, b * rows + r + 1)): _*)
          .as("bucket"))
    }: _*)

  // ---- persisted LSH signature store (steady-state incremental dedup) ----

  /** Write the persisted LSH signature store for `corpus` at `path`: the
    * steady-state layout promised by [[minHashLshPairsAgainst]] — each
    * document's signatures are derived ONCE, when it is accepted into the
    * corpus, and every later batch joins against the stored frames
    * instead of re-shingling and re-hashing the whole corpus.
    *
    * Layout under `path`:
    *   - `meta`: one row (n, num_hashes, bands) — the sketch contract.
    *     [[appendBandSignatures]] and [[minHashLshPairsAgainstStore]]
    *     read their parameters FROM it, so a store can never mix
    *     incompatible signatures or be probed with mismatched banding.
    *   - `bands`: (id, bucket) parquet, directory-partitioned by `band`
    *     and sorted by `bucket` within files — the LSH index.
    *   - `shingles`: (id, shingles) — the hashed shingle sets, so
    *     candidate verification stays exact (precision 1) without ever
    *     re-reading corpus text.
    *
    * Scale shape: per-batch cost is hashing the batch (∝ batch text),
    * one bucket-keyed join of the batch's bands against a SKINNY stored
    * index (two longs + a partition int per row — at 100 TB of text the
    * band index is ~10⁻⁴ of corpus bytes), and an id-keyed verify join
    * against stored shingles for candidate ids only. Nothing re-derives
    * corpus signatures, so per-batch time stays near-flat as the stored
    * corpus grows (measured: `graft.Probe curation`, the store table in
    * BASELINE.md). */
  def writeBandSignatures(corpus: DataFrame, idCol: String, textCol: String,
                          path: String, n: Int = 3, numHashes: Int = 64,
                          bands: Int = 32): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    corpus.sparkSession.range(1)
      .select(lit(n).as("n"), lit(numHashes).as("num_hashes"),
        lit(bands).as("bands"))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
    val sh = shingled(corpus, idCol, textCol, n)
    storeWrite(sh, sh, path, numHashes, bands, SaveMode.Overwrite)
  }

  /** Append an accepted batch's signatures to a store created by
    * [[writeBandSignatures]] — the streaming ingest step (the
    * `append_stream_signature_store` sink runs it per micro-batch).
    * Sketch parameters come from the store's own meta, so appended
    * signatures are always layout-compatible. Only ids not yet fully
    * committed append, so the store converges duplicate-free under
    * micro-batch replays AND the mid-append crash window. "Fully
    * committed" = present in `bands` (the LAST table [[storeWrite]]
    * writes): a replayed batch drops those ids entirely; an id left
    * shingles-only by a crash between the two writes is NOT
    * re-shingled (no duplicate rows — duplicates would duplicate
    * verified pairs downstream) but DOES get its bands written, so the
    * store heals to sound instead of losing the document's recall
    * forever. Each table's append is atomic at the job level
    * (FileOutputCommitter), so those are the only states. */
  def appendBandSignatures(batch: DataFrame, idCol: String,
                           textCol: String, path: String): Unit = {
    val spark = batch.sparkSession
    val (n, numHashes, bands) = readStoreMeta(spark, path)
    def seenIds(sub: String): Option[DataFrame] =
      try Some(spark.read.parquet(s"$path/$sub")
        .select(col("id").as("__seen")).distinct())
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    def anti(df: DataFrame, seen: Option[DataFrame]): DataFrame =
      seen.fold(df)(s =>
        df.join(s, col("id") === col("__seen"), "left_anti"))
    // materialize BEFORE the appends: the fresh set derives from the
    // same directories the writes below extend. dropDuplicates first:
    // two copies of an id WITHIN one micro-batch both pass the store
    // anti joins (neither is in the store yet) and would both write.
    val fresh = anti(shingled(batch.dropDuplicates(idCol), idCol,
        textCol, n),
      seenIds("bands")).truncateLineage(true)
    storeWrite(fresh, anti(fresh, seenIds("shingles")), path, numHashes,
      bands, SaveMode.Append)
  }

  /** The store's two table writes: `newShingles`' shingle rows, then
    * the bands of every document in `sh` (both shingled frames).
    * Shingles FIRST: a crash between the two writes then leaves only
    * orphan shingle rows, which are recall-neutral (candidates come
    * from the band join; an id with shingles but no bands is never a
    * candidate). The reverse order would leave band rows whose
    * candidate ids silently drop out of the verify join — near-dups
    * admitted. */
  private def storeWrite(sh: DataFrame, newShingles: DataFrame,
                         path: String, numHashes: Int, bands: Int,
                         mode: SaveMode): Unit = {
    newShingles.select(col("id"), col("shingles"))
      .write.mode(mode).parquet(s"$path/shingles")
    bandedSignatures(sh, numHashes, bands, numHashes / bands)
      // band-directory layout + bucket-sorted files: a probe join ships
      // one band's buckets together and row-group min/max stats stay tight
      .repartition(col("band"))
      .sortWithinPartitions(col("band"), col("bucket"))
      .write.mode(mode).partitionBy("band").parquet(s"$path/bands")
  }

  private[graft] def readStoreMeta(spark: SparkSession,
                                   path: String): (Int, Int, Int) = {
    val r = spark.read.parquet(s"$path/meta").head()
    (r.getAs[Int]("n"), r.getAs[Int]("num_hashes"), r.getAs[Int]("bands"))
  }

  /** [[minHashLshPairsAgainst]] against a persisted signature store:
    * near-duplicate pairs (id_a = stored id, id_b = batch id, jaccard ≥
    * threshold) between `newDocs` and the corpus whose signatures live at
    * `path` — identical output, but per-batch cost scales with the batch
    * instead of the corpus. Feed to [[dropNearDuplicates]] with the batch
    * frame, then [[appendBandSignatures]] the survivors. */
  def minHashLshPairsAgainstStore(newDocs: DataFrame, path: String,
                                  idCol: String, textCol: String,
                                  threshold: Double = 0.5): DataFrame = {
    val spark = newDocs.sparkSession
    val (n, numHashes, bands) = readStoreMeta(spark, path)
    val shNew = shingled(newDocs, idCol, textCol, n)
    // storeWrite puts shingles on disk BEFORE bands, so the readable
    // states decode as:
    //   - no bands dir, EMPTY shingles: a store written from an empty
    //     corpus (a partitioned write of zero rows emits no files, while
    //     the non-partitioned shingles write leaves a schema-only empty
    //     file) — legitimately matches nothing.
    //   - no bands dir, NON-empty shingles: a crash between storeWrite's
    //     initial shingle and band writes; matching nothing would admit
    //     every near-duplicate — fail loudly.
    //   - bands without shingles: impossible under the current write
    //     order; only a pre-fix torn store — fail loudly.
    //   - NEITHER readable: meta committed but the shingles write never
    //     finished (writeBandSignatures writes meta first) — also torn;
    //     an empty-corpus store always leaves the schema-only shingles
    //     file, so (None, None) never means "legitimately empty".
    //   - both present: sound. A crash mid-APPEND can at worst leave
    //     orphan shingle rows (recall-neutral: never candidates).
    def tryRead(sub: String) =
      try Some(spark.read.parquet(s"$path/$sub"))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    (tryRead("bands"), tryRead("shingles")) match {
      case (None, Some(storeShingles)) if !storeShingles.isEmpty =>
        throw new IllegalStateException(
          s"signature store at $path is partially written (shingles " +
            "without bands) — rebuild with writeBandSignatures")
      case (None, Some(_)) =>
        shNew.limit(0).select(col("id").as("id_a"), col("id").as("id_b"),
          lit(0.0).as("jaccard"))
      case (None, None) =>
        throw new IllegalStateException(
          s"signature store at $path is partially written (meta without " +
            "shingles) — rebuild with writeBandSignatures")
      case (Some(_), None) =>
        throw new IllegalStateException(
          s"signature store at $path is partially written (bands " +
            "without shingles) — rebuild with writeBandSignatures")
      case (Some(storeBands), Some(storeShingles)) =>
        val candidates = storeBands
          .select(col("id"), col("band"), col("bucket")).as("a")
          .join(bandedSignatures(shNew, numHashes, bands,
              numHashes / bands).as("b"),
            col("a.band") === col("b.band") &&
            col("a.bucket") === col("b.bucket"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .distinct()
        verifyJaccard2(candidates, storeShingles, shNew, threshold)
    }
  }

  /** SimHash near-duplicate pairs, exact-verified.
    *
    * 64-bit SimHash over token hashes; candidates are pairs agreeing on at
    * least one of `chunks` signature chunks (pigeonhole: guarantees recall
    * for Hamming distance < chunks) with `bit_count(xor) <= hammingMax`;
    * then exact-Jaccard verification at `threshold`.
    */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, hammingMax: Int = 3, chunks: Int = 4,
                   threshold: Double = 0.5): DataFrame = {
    val sh = shingled(docs, idCol, textCol, n)
    // one-pass SimHashSketch aggregate: O(64) state per doc, no explode,
    // bit-identical to the explode + 64 sum-aggregate formulation
    // (re-measured r17: truncating this doc-sized frame is a WASH —
    // the chunk self-join's two reads already share the aggregate's
    // exchange, so the checkpoint buys nothing; left un-materialized)
    val sig = sh.groupBy(col("id")).agg(
      org.apache.spark.sql.graftext.SimHashSketch(col("shingles"))
        .as("simhash"))
    val chunked = sig.select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(chunks - 1))).as("chunk"))
      .withColumn("chunk_val",
        expr(s"shiftrightunsigned(simhash, chunk * ${64 / chunks})")
          .bitwiseAND(lit((1L << (64 / chunks)) - 1)))
    val candidates = chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.id") < col("b.id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= hammingMax)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(candidates, sh, threshold)
  }

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs against
    * the shingle sets — the standard rescoring stage after any sketch. */
  private def verifyJaccard(candidates: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame =
    verifyJaccard2(candidates, sh, sh, threshold)

  /** Exact-Jaccard verification with distinct shingle frames per pair
    * side (id_a from `shA`, id_b from `shB`) — the two-corpus form the
    * incremental path needs; the one-corpus operators pass the same
    * frame twice. */
  private def verifyJaccard2(candidates: DataFrame, shA: DataFrame,
                             shB: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(shA.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(shB.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Drop near-duplicates given a (id_a, id_b) pair table (any of the
    * pair operators above): a document is dropped when ANY near-dup with
    * a smaller id exists — one anti-join, no transitive closure needed,
    * the standard corpus-cleaning policy. */
  def dropNearDuplicates(docs: DataFrame, idCol: String,
                         pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("id_b").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Quality-aware near-duplicate resolution: keep the BEST document of
    * every transitive duplicate cluster instead of the lowest-id one —
    * the policy production pipelines actually run (a near-dup set often
    * contains one clean original and several mangled copies; keeping by
    * id keeps whichever was crawled first). Clusters come from
    * [[nearDupClusters]] over the pair table; within each cluster the
    * keeper maximizes `priorityCol` (ties to the smaller id, so the
    * result is deterministic); documents in no cluster survive
    * untouched.
    *
    * Scale shape: label propagation (O(diameter) keyed rounds) + one
    * per-cluster rank window — the window partitions on cluster_id,
    * whose groups are near-dup cluster sizes (small by construction),
    * never a corpus-wide key. */
  def keepBestOfClusters(docs: DataFrame, idCol: String,
                         pairs: DataFrame,
                         priorityCol: String): DataFrame = {
    val clusters = nearDupClusters(pairs)
      .withColumnRenamed("id", idCol)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(priorityCol).desc, col(idCol))
    val members = docs.join(clusters, Seq(idCol))
      .withColumn("__rn", row_number().over(w))
    members.filter(col("__rn") === 1).drop("__rn", "cluster_id")
      .unionByName(docs.join(clusters.select(col(idCol)), Seq(idCol),
        "left_anti"))
  }

  /** Transitive near-duplicate clusters from a pair table: iterative
    * min-label propagation (each member adopts the smallest id reachable
    * over the pair edges). Converges in O(cluster diameter) rounds —
    * near-dup clusters are shallow, so `maxIters` is a safety bound, and
    * each round is one join + aggregate (no driver-side union-find).
    * Output: (id, cluster_id = min member id). */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 10): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      // read once per propagation round: without this barrier every round
      // re-derives the whole upstream pair pipeline (measured 2× total)
      .truncateLineage(false)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
    var converged = false
    var i = 0
    // maxIters propagation rounds + 1 confirming (no-change) round: a
    // cluster of diameter exactly maxIters stabilizes on the last
    // propagation round and must not be reported as non-converged
    while (!converged && i < maxIters + 1) {
      // the convergence flag is computed INSIDE the propagation round
      // (the old-vs-new comparison is free — the round already joins
      // against the previous labels), so the max(changed) probe below is
      // the round's ONE action: it materializes the lazy checkpoint and
      // reduces the flag in the same job. A separate isEmpty probe would
      // double each round's latency at deep-cluster scale.
      val next = edges
        .join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("cluster_id", "dst_label"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_label")).as("neighbor_min"))
        .join(labels, "id")
        .select(col("id"),
          least(col("cluster_id"), col("neighbor_min")).as("cluster_id"),
          (col("neighbor_min") < col("cluster_id")).as("changed"))
        .truncateLineage(false)
      converged = !next.agg(coalesce(max(col("changed")), lit(false)))
        .head.getBoolean(0)
      labels = next.drop("changed")
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"nearDupClusters did not converge in $maxIters rounds — a cluster's " +
        "diameter exceeds maxIters; raise it (rounds needed ≈ diameter)")
    labels
  }

  /** Passage-level exact dedup (C4/RefinedWeb-style repeated-span
    * removal): each document
    * is split into consecutive non-overlapping `windowWords`-word
    * passages, every passage whose exact text already occurred EARLIER
    * in the corpus (smaller (doc_id, passage index)) is dropped, and the
    * surviving passages are reassembled in document order. Unlike
    * whole-document dedup this removes boilerplate and quoted spans
    * shared between otherwise-distinct documents.
    *
    * Output: (doc_id, text_deduped, n_kept, n_dropped) — one row per
    * input document; a fully-duplicated document survives with
    * text_deduped = "" and n_kept = 0.
    *
    * Scale shape: "first occurrence" is computed as a min(struct(doc,
    * pos)) hash-aggregate keyed by passage text, NOT a row_number
    * window — partial aggregation collapses hot passages map-side, and
    * the join back is AQE-skew-splittable, where a window over a
    * degenerate passage (e.g. boilerplate occurring millions of times)
    * would pin one task. Two keyed shuffles total (passage, then
    * doc_id), both with map-side partials. */
  def dedupPassages(docs: DataFrame, idCol: String, textCol: String,
                    windowWords: Int = 10): DataFrame = {
    val chunks = wordChunks(docs, idCol, textCol, windowWords)
    val firsts = chunks.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("ci"))).as("keeper"))
    chunks.join(firsts, "chunk")
      .withColumn("first",
        struct(col("doc_id"), col("ci")) === col("keeper"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("first"),
            struct(col("ci"), col("chunk"))))),
          _.getField("chunk")), " ").as("text_deduped"),
        sum(when(col("first"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("first"), 0L).otherwise(1L)).as("n_dropped"))
  }

  /** Exact substring dedup at TOKEN granularity (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * suffix-array contract): any repeated run of ≥ `k` tokens is
    * removed from every occurrence except the corpus-first one.
    * Realized distributively as stride-1 `k`-token shingles + merged-
    * span removal: an occurrence of a repeated run of length L ≥ k has
    * ALL of its L−k+1 stride-1 shingles duplicated (each has an earlier
    * (doc, pos) twin inside the first occurrence), so deleting every
    * token covered by a non-first shingle removes exactly the repeated
    * spans — including partial overlaps a fixed-window chunking
    * ([[dedupPassages]]) misses. First occurrences keep their tokens
    * unless some shingle of theirs duplicates a still-earlier span.
    *
    * Output: (doc_id, text_deduped, n_kept, n_dropped) — token counts;
    * every input document survives (empty/NULL text included).
    *
    * Scale shape: like [[dedupPassages]] the first-occurrence marker is
    * a min(struct(doc, pos)) hash-aggregate keyed by shingle text (hot
    * boilerplate shingles collapse map-side; no windows), then covered
    * positions are a doc-keyed distinct and the token filter is a
    * doc-keyed anti-join — all shuffles keyed and partial-aggregated.
    * The stride-1 index carries ~k× the corpus bytes through the first
    * shuffle (the cost of exactness vs a suffix array); for corpora
    * where that dominates, shingle TEXT can be swapped for the winnow
    * md5-prefix hash at the usual collision trade. */
  def dedupTokenSpans(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 10): DataFrame = {
    require(k >= 2, "k must be >= 2 — k = 1 is plain token dedup")
    // recomputed by each consumer on purpose: the tokenization is a
    // narrow scan-speed projection, and materializing corpus tokens
    // (localCheckpoint) would cost ~corpus bytes of executor storage —
    // the same call the chunk frame in dedupPassages makes
    val toks0 = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(coalesce(col(textCol), lit(""))).as("ws"))
    val toks = toks0.select(col("doc_id"),
      posexplode(col("ws")).as(Seq("p", "token")))
    val shingles = toks0
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("ws")) - k),
          i => array_join(slice(col("ws"), i + 1, lit(k)), " ")))
        .as(Seq("s", "key")))
    val firsts = shingles.groupBy(col("key"))
      .agg(min(struct(col("doc_id"), col("s"))).as("keeper"))
    val covered = shingles.join(firsts, "key")
      .filter(struct(col("doc_id"), col("s")) =!= col("keeper"))
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + lit(k - 1))).as("p"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("token")))),
          _.getField("token")), " ").as("text_deduped"),
        count(lit(1)).as("n_kept"))
    toks0.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** (doc_id, ci, chunk): each document split into consecutive
    * non-overlapping `windowWords`-word passages — shared by the
    * passage dedup and boilerplate operators. coalesce: a NULL text
    * must survive as (doc_id, "", ...) like an empty one — a null chunk
    * key would never match the frequency join and the document would
    * vanish from the output. */
  private def wordChunks(docs: DataFrame, idCol: String, textCol: String,
                         windowWords: Int): DataFrame = {
    require(windowWords >= 1, "windowWords must be >= 1")
    val w = lit(windowWords)
    docs.select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(coalesce(col(textCol), lit(""))).as("ws"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0),
          greatest(ceil(size(col("ws")) / w.cast("double")), lit(1L))
            .cast("int") - 1),
        i => array_join(slice(col("ws"), i * w + 1, w), " ")))
        .as(Seq("ci", "chunk")))
  }

  /** Boilerplate removal (C4/RefinedWeb-style line-frequency filter):
    * every `windowWords`-word passage whose exact text occurs in at
    * least `minDocs` DISTINCT documents is dropped from ALL of them
    * (headers, footers, cookie banners — spans whose corpus-wide
    * document frequency marks them as template, not content), and the
    * survivors are reassembled in document order. Differs from
    * [[dedupPassages]] in both the trigger (distinct-document
    * frequency, not any repeat) and the action (no first occurrence is
    * spared).
    *
    * Output: (doc_id, text_cleaned, n_kept, n_dropped) — one row per
    * input document; a fully-boilerplate document survives with
    * text_cleaned = "" and n_kept = 0.
    *
    * Scale shape: document frequency is a two-level hash aggregate
    * (chunk+doc partial collapse map-side, then per-chunk distinct
    * count); the boilerplate set is bounded by corpusPassages/minDocs
    * and shrinks as the threshold rises, so AQE broadcasts the join
    * back at realistic thresholds. Two keyed shuffles (chunk, then
    * doc_id), both with map-side partials — the same posture as
    * [[dedupPassages]]. */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                        windowWords: Int = 10,
                        minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2 — 1 would drop everything")
    val chunks = wordChunks(docs, idCol, textCol, windowWords)
    val boiler = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("chunk"), lit(true).as("bp"))
    chunks.join(boiler, Seq("chunk"), "left")
      .withColumn("keep", col("bp").isNull)
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("ci"), col("chunk"))))),
          _.getField("chunk")), " ").as("text_cleaned"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
  }

  /** Embedding near-duplicate pairs above a cosine threshold — exact
    * (all-pairs) form. The inverted-index trick has no analogue for dense
    * cosine, so at corpus scale use [[Similarity.lshNearDupPairs]]; this
    * exact form is the oracle/baseline. */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.{cosineWithNorms, dotProduct, l2Norm, toDouble}
    // cast + norm once per row, below the join — the O(n²) side then does
    // exactly one codegen'd dot per pair
    val v = emb.select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
      .withColumn("norm", l2Norm(col("vec")))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cosine", cosineWithNorms(
        dotProduct(col("a.vec"), col("b.vec")), col("a.norm"), col("b.norm")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Cross-source contamination matrix — how much of source A's
    * content also lives in source B, for every source pair at once:
    * the corpus-governance view (is "curated-wiki" secretly inside
    * "common-crawl"? which feeds are mirrors?) that doc-level dedup
    * pairs are too fine-grained to answer.
    *
    * Unit of overlap: distinct word n-gram shingles per source.
    * Shingles present in more than `maxGroups` sources drop from the
    * NUMERATOR before pairing — ubiquitous phrasing is boilerplate,
    * not contamination, and the cap also bounds the per-shingle pair
    * fan-out at maxGroups² (the structural quadratic guard; totals
    * stay uncapped, so the reported jaccard strictly understates
    * rather than invents overlap — documented bias direction).
    *
    * Scale shape: one distinct over (source, shingle) — corpus-sized
    * but partial-aggregated — then every join runs on the
    * source-level frames (≤ |sources|·shingles rows, pair table ≤
    * |sources|²). Emits (source_a, source_b, common, n_a, n_b,
    * jaccard[rounded 6]) for a < b. */
  def sourceOverlapMatrix(docs: DataFrame, groupCol: String = "source",
                          textCol: String = "text", n: Int = 3,
                          maxGroups: Int = 10): DataFrame = {
    require(n >= 1, "n must be >= 1")
    require(maxGroups >= 2, "maxGroups must be >= 2")
    val gs = docs.select(col(groupCol).as("g"),
        explode(TextAnalysis.shingles(col(textCol), n)).as("sh"))
      .distinct()
      .truncateLineage(false)
    val totals = gs.groupBy(col("g")).agg(count(lit(1)).as("n_sh"))
    val capped = gs.join(
      gs.groupBy(col("sh")).agg(count(lit(1)).as("gdf"))
        .filter(col("gdf") <= maxGroups)
        .select(col("sh")),
      Seq("sh"))
    capped.as("a").join(capped.as("b"), Seq("sh"))
      .filter(col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("source_a"), col("b.g").as("source_b"))
      .agg(count(lit(1)).as("common"))
      .join(totals.select(col("g").as("source_a"),
        col("n_sh").as("n_a")), Seq("source_a"))
      .join(totals.select(col("g").as("source_b"),
        col("n_sh").as("n_b")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("common"),
        col("n_a"), col("n_b"),
        (round(col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double")
          * lit(1e6)).cast("double") / lit(1e6)).as("jaccard"))
  }
}
