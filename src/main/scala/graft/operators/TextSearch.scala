package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints.TruncateOps

/** Full-text retrieval over a document corpus: exact BM25 top-k.
  *
  * Scale design (the 100 TB posture): the query set is small and the
  * corpus is the big side, so the corpus is only ever SCANNED — tokens
  * are exploded map-side and immediately semi-joined against the
  * broadcast query vocabulary, so the one shuffle (the tf groupBy)
  * carries only postings of query terms, ∝ matches rather than corpus
  * size. Document frequencies come from those same postings (the filter
  * keeps every document containing a query term, so per-term counts are
  * corpus-exact). Corpus cardinality and average document length are the
  * only driver-side values — two bounded scalars. The final top-k rides
  * the rank-filter rewrite (`WindowGroupLimit`): partition-local top-k
  * before the shuffle, ≤ k × partitions rows moved per query.
  *
  * Scoring is the standard Okapi BM25 with the +1 idf smoothing (always
  * positive, Lucene-style): idf = ln(1 + (N − df + ½)/(df + ½)),
  * tf-part = tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)). Per-term scores
  * are rounded to 9 decimals and summed as DECIMAL so the document score
  * is independent of term summation order — reproducible across
  * partitionings and engines (the DuckDB oracle sums the same way).
  *
  * Tokenization is whitespace splitting, shared with the rest of the
  * text stack ([[TextAnalysis]]); plug a smarter tokenizer upstream if
  * needed — scoring only sees (term, doc) postings. */
object TextSearch {

  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               queryIdCol: String = "query_id",
               queryTextCol: String = "qtext",
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).as("dl"),
      explode(split(col(textCol), " ")).as("term"))
    // two bounded driver scalars; everything else stays distributed
    val statsRow = docs.agg(count(lit(1)),
      avg(size(split(col(textCol), " ")))).head
    if (statsRow.getLong(0) == 0L) {
      // empty corpus: empty result with the right schema, no crash (the
      // avg is null here and the idf/avgdl math would NPE). doc_id takes
      // its type from DOCS — typing it off the query id would flip the
      // column type exactly when the corpus is empty
      return queries.limit(0).select(col(queryIdCol).as("query_id"))
        .crossJoin(docs.limit(0).select(col(idCol).as("doc_id")))
        .select(col("query_id"), col("doc_id"),
          lit(1).as("rank"), lit(0.0).as("score"))
    }
    val (nDocs, avgdl) = (statsRow.getLong(0).toDouble, statsRow.getDouble(1))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
        explode(split(col(queryTextCol), " ")).as("term"))
      .distinct() // classic BM25: sum over DISTINCT query terms
    val vocab = qterms.select("term").distinct()
    // ONE exchange, keyed by term alone: hash(term) colocates every
    // (term, doc) group AND the per-term df window, so the tf groupBy
    // (map-side partial first) and df count reuse the same partitioning
    val postings = toks
      .join(broadcast(vocab), Seq("term"), "left_semi")
      .repartition(col("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val withDf = postings.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("term"))))
    scorePostings(withDf, qterms, nDocs, avgdl, k, k1, b)
  }

  /** Shared Okapi scoring over a (term, doc_id, dl, tf, df) posting
    * frame — the tail both [[bm25TopK]] (postings built per query) and
    * [[bm25FromIndex]] (postings read from the persisted index) feed. */
  private def scorePostings(postings: DataFrame, qterms: DataFrame,
                            nDocs: Double, avgdl: Double, k: Int,
                            k1: Double, b: Double): DataFrame = {
    val perTerm = postings
      .join(broadcast(qterms), Seq("term"))
      .withColumn("idf",
        log(lit(1.0) + (lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("term_score",
        round(col("idf") * col("tf") * lit(k1 + 1) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl)),
          9).cast("decimal(28,9)"))
    val scored = perTerm.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score")).as("score_dec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_dec").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"),
        round(col("score_dec").cast("double"), 6).as("score"))
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    * 2001) — the language-modeling ranking function beside [[bm25TopK]]:
    * score(q,d) = Σ_t ln((tf_t,d + μ·p(t|C)) / (dl_d + μ)), the
    * probability the document's smoothed unigram LM generates the
    * query. Different failure modes than BM25 (length normalization
    * via μ, corpus-frequency smoothing instead of idf), which is why
    * retrieval stacks run both and fuse (see `rrfFuse`).
    *
    * Semantics pinned for replication:
    *   - candidates are documents matching ≥ 1 query term — the
    *     standard candidate-generation restriction (a no-match doc's
    *     score is almost surely dominated; scoring the whole corpus
    *     per query is the structurally unbounded alternative);
    *   - query terms ABSENT from the corpus drop from the model
    *     (their p(t|C) = 0 would send every score to −∞);
    *   - the score decomposes as qconst(q) + Σ_matched Δ_t −
    *     |q'|·ln(dl + μ), where qconst = Σ_t∈q' ln(μ·p_t) and
    *     Δ_t = ln(tf + μ·p_t) − ln(μ·p_t): every piece quantizes to
    *     the 1e-9 INTEGER lattice (round(x·1e9) longs — fractional
    *     round(x, 9) diverged live on a ninth-decimal .5 boundary)
    *     and sums exactly, so ranking replicates in SQL
    *     digit-for-digit; display rounding is sign-aware integer
    *     arithmetic (Spark DIV truncates, DuckDB // floors — they
    *     only agree on positives, and QL scores are negative).
    *
    * Scale shape = bm25TopK's: corpus scanned once, tokens semi-join
    * the broadcast query vocabulary map-side, ONE term-keyed exchange
    * carries postings + collection frequencies together; |C| is the
    * one driver scalar; the top-k rides WindowGroupLimit. */
  def queryLikelihoodTopK(docs: DataFrame, queries: DataFrame, k: Int,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          queryIdCol: String = "query_id",
                          queryTextCol: String = "qtext",
                          mu: Double = 2000.0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(mu > 0, "mu must be > 0")
    // ONE corpus pass for matched postings AND the |C| scalar: each
    // doc explodes its tokens plus one null-term SENTINEL row carrying
    // dl, the broadcast vocabulary join keeps matched tokens (and the
    // sentinels ride through on term-is-null), and the compact result
    // — matched occurrences + one row per doc — checkpoints. |C| then
    // sums sentinel dl off the checkpoint instead of re-scanning the
    // corpus (the former separate docs.agg action paid a second full
    // read of the text column per call).
    val toks = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).as("dl"),
      explode(concat(array(lit(null).cast("string")),
        split(col(textCol), " "))).as("term"))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
        explode(split(col(queryTextCol), " ")).as("term"))
      .distinct()
    val vocab = qterms.select("term").distinct()
    val hits = broadcast(vocab.withColumn("__hit", lit(1)))
    val kept = toks.join(hits, Seq("term"), "left")
      .filter(col("__hit").isNotNull || col("term").isNull)
      .select(col("term"), col("doc_id"), col("dl"))
      .truncateLineage(false)
    val cRow = kept.filter(col("term").isNull)
      .agg(sum(col("dl").cast("long"))).head
    require(!cRow.isNullAt(0) && cRow.getLong(0) > 0L,
      "queryLikelihoodTopK needs a non-empty corpus")
    val cTotal = cRow.getLong(0).toDouble
    // sentinels are excluded BEFORE the term-keyed exchange — null
    // keys would otherwise pile one-row-per-doc into one partition
    val matched = kept.filter(col("term").isNotNull)
      .repartition(col("term"))
    // collection frequency of each query term, riding the same
    // term-keyed partitioning as the postings groupBy
    val cf = matched.groupBy(col("term"))
      .agg(count(lit(1)).as("cf"))
    val postings = matched
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    // q' = query terms present in the corpus, with their smoothing
    // mass; a bounded frame (query vocabulary sized)
    val qp = qterms.join(cf, Seq("term"))
      .withColumn("mp",
        lit(mu) * (col("cf").cast("double") / lit(cTotal)))
    // every piece lives on the 1e-9 INTEGER lattice (the pageRank
    // discipline): fractional round(x, 9) on doubles diverged live on
    // this query (a ninth-decimal .5 boundary renders differently
    // across engines — the q_sim_mmr lesson); round(x·1e9) to longs
    // agrees always, and long sums are exact at any order
    def u9(c: Column): Column = round(c * lit(1e9)).cast("long")
    val qconst = qp.groupBy(col("query_id"))
      .agg(count(lit(1)).as("nq"), sum(u9(log(col("mp")))).as("qsum"))
    val deltas = postings
      .join(broadcast(qp), Seq("term"))
      .withColumn("delta",
        u9(log(col("tf").cast("double") + col("mp")) - log(col("mp"))))
      .groupBy(col("query_id"), col("doc_id"), col("dl"))
      .agg(sum(col("delta")).as("dsum"))
    val scored = deltas.join(broadcast(qconst), Seq("query_id"))
      .withColumn("u",
        col("qsum") + col("dsum") -
          u9(col("nq").cast("double") *
            log(col("dl").cast("double") + lit(mu))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("u").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"),
        // QL scores are negative log-probs: display-round HALF_UP on
        // the POSITIVE magnitude so Spark's DIV (truncating) and
        // DuckDB's // (floor) agree — they differ on negatives
        (-(expr("(-u + 500) DIV 1000")).cast("double") / lit(1e6))
          .as("score"))
  }

  /** Persist the corpus inverted index so retrieval stops paying the
    * corpus scan: the BM25 analogue of the LSH signature store and the
    * IVF index. Tokenize + tf-aggregate ONCE at write time; every
    * probe afterwards reads only the queried terms' postings.
    *
    * Layout under `path`:
    *   - `postings/`: (term, doc_id, dl, tf, df) range-partitioned AND
    *     sorted by term — each parquet file covers a contiguous term
    *     range, so a probe's `term IN (...)` prunes to the files/row
    *     groups whose min/max straddle a query term (same file-skipping
    *     mechanism the Z-order layout uses, here on the natural 1-D
    *     key). df is denormalized into the row at write time: the
    *     probe needs no window and no second pass.
    *   - `meta/`: one row (n_docs, avgdl) — the two corpus scalars
    *     scoring needs.
    *
    * `shards` = 0 lets range partitioning pick the width from the
    * data; pass an explicit count to pin file granularity. */
  def writeSearchIndex(docs: DataFrame, path: String,
                       idCol: String = "doc_id", textCol: String = "text",
                       shards: Int = 0): Unit = {
    val statsRow = docs.agg(count(lit(1)),
      avg(size(split(col(textCol), " ")))).head
    require(statsRow.getLong(0) > 0L,
      "writeSearchIndex needs a non-empty corpus")
    docs.sparkSession.range(1)
      .select(lit(statsRow.getLong(0)).as("n_docs"),
        lit(statsRow.getDouble(1)).as("avgdl"))
      .write.mode("overwrite").parquet(s"$path/meta")
    val toks = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).as("dl"),
      explode(split(col(textCol), " ")).as("term"))
    val postings = toks
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("term"))))
    val ranged =
      if (shards > 0) postings.repartitionByRange(shards, col("term"))
      else postings.repartitionByRange(col("term"))
    ranged.sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$path/postings")
  }

  /** Incremental index maintenance: fold a NEW document batch into a
    * persisted [[writeSearchIndex]] index without re-tokenizing the
    * old corpus — the operation that makes the index sustainable on a
    * growing 100 TB corpus (a daily crawl delta re-tokenizes the
    * delta, not the archive).
    *
    * Exactness contract: the merged index is IDENTICAL — postings
    * multiset, df, n_docs, avgdl, and therefore every BM25 score — to
    * `writeSearchIndex(old ∪ new)` (spec-pinned; the harness probe
    * runs under the full-corpus oracle). That holds because
    *   - old postings store exact (term, doc_id, dl, tf); the delta
    *     tokenizes identically; disjoint ids make the union the
    *     rebuild's multiset (ENFORCED: a delta doc_id already present
    *     in the stored index throws — the old-meta n_docs + delta
    *     distinct count must equal the merged distinct count — rather
    *     than silently writing duplicate postings with inflated df);
    *   - `df` recomputes over the union (the stored df is dropped);
    *   - `meta` recomputes from the merged doc dictionary: every doc
    *     has ≥ 1 posting row (an empty text still emits its
    *     empty-string token), and avg over ints is an exact double
    *     sum at any order below 2⁵³.
    *
    * Cost: delta tokenize + ONE term-keyed window over the union +
    * the range-partitioned rewrite. `outPath` must differ from
    * `path` (parquet cannot overwrite its own input mid-read); atomic
    * swap is the caller's rename. */
  def mergeSearchIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, newDocs: DataFrame, outPath: String,
                       idCol: String = "doc_id", textCol: String = "text",
                       shards: Int = 0): Unit = {
    require(outPath != path, "outPath must differ from the input path")
    val old = spark.read.parquet(s"$path/postings")
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))
    val delta = newDocs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).as("dl"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val merged = old.unionByName(
      delta.select(col("term"), col("doc_id"), col("dl"), col("tf")))
      .truncateLineage(false)
    val statsRow = merged.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)), avg(col("dl")),
        count_distinct(col("doc_id"))).head
    // enforce the documented disjointness contract instead of silently
    // writing a corrupt index (duplicate postings, inflated df/n_docs).
    // Two checks, both on DOC IDS not (doc_id, dl) pairs: a re-added
    // doc with CHANGED text carries a different dl, so the pair count
    // alone would still equal old + delta and let the overlap through —
    // the distinct-id count is what actually shrinks on any overlap,
    // and ids-vs-pairs inequality is the changed-text signature.
    val oldNDocs = spark.read.parquet(s"$path/meta").head.getLong(0)
    val deltaNDocs = newDocs.select(col(idCol)).distinct().count()
    require(statsRow.getLong(2) == oldNDocs + deltaNDocs &&
        statsRow.getLong(0) == statsRow.getLong(2),
      s"mergeSearchIndex: delta doc_ids overlap the stored index " +
        s"(old=$oldNDocs + delta=$deltaNDocs != " +
        s"merged=${statsRow.getLong(2)} distinct ids over " +
        s"${statsRow.getLong(0)} (id, dl) pairs); dedup or replace " +
        s"upstream")
    spark.range(1)
      .select(lit(statsRow.getLong(0)).as("n_docs"),
        lit(statsRow.getDouble(1)).as("avgdl"))
      .write.mode("overwrite").parquet(s"$outPath/meta")
    val withDf = merged.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("term"))))
    val ranged =
      if (shards > 0) withDf.repartitionByRange(shards, col("term"))
      else withDf.repartitionByRange(col("term"))
    ranged.sortWithinPartitions(col("term"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$outPath/postings")
  }

  /** BM25 top-k against a persisted [[writeSearchIndex]] index —
    * identical scores and ranking to [[bm25TopK]] over the corpus the
    * index was built from (spec-pinned parity; the DuckDB oracle is
    * literally the same SQL), at per-probe cost ∝ the queried terms'
    * posting lists instead of the corpus.
    *
    * The query vocabulary becomes a bounded driver-side IN-list so the
    * term filter pushes down to the parquet scan (file + row-group
    * pruning against the sorted term ranges) — same bounded-query-set
    * contract as [[phraseSearchInline]]'s literal phrase list. */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: DataFrame, k: Int,
                    queryIdCol: String = "query_id",
                    queryTextCol: String = "qtext",
                    k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head
    val (nDocs, avgdl) = (meta.getLong(0).toDouble, meta.getDouble(1))
    val qterms = queries.select(col(queryIdCol).as("query_id"),
        explode(split(col(queryTextCol), " ")).as("term"))
      .distinct()
    val vocab = qterms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    require(vocab.nonEmpty, "bm25FromIndex needs at least one query term")
    val postings = spark.read.parquet(s"$path/postings")
      .filter(col("term").isin(vocab: _*))
    scorePostings(postings, qterms, nDocs, avgdl, k, k1, b)
  }

  /** Exact multi-word phrase search: for each (query_id, phrase) find
    * every document containing the phrase as consecutive whitespace
    * tokens, with the occurrence count (overlapping occurrences each
    * count) and the first 0-based word position — the positional-index
    * complement to [[bm25TopK]]'s bag-of-words scoring.
    *
    * Scale shape, mirroring bm25: the corpus is only SCANNED. Docs
    * explode into ℓ-gram strings map-side (one pass per DISTINCT phrase
    * length — the lengths are a bounded driver list, ≤ a handful for any
    * real query set) and are immediately inner-joined against the
    * BROADCAST phrase table, so the one shuffle (the per-pair groupBy)
    * carries only hit positions, ∝ matches rather than corpus size.
    * Output: (query_id, doc_id, n_hits, first_pos). */
  def phraseSearch(docs: DataFrame, queries: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text",
                   queryIdCol: String = "query_id",
                   phraseCol: String = "phrase"): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(phraseCol).as("phrase"),
      size(split(col(phraseCol), " ")).as("plen"))
    // bounded driver metadata: the distinct phrase LENGTHS plus one
    // validity bit. A blank/whitespace phrase tokenizes to empty
    // strings (split never yields an empty array), which would "match"
    // the empty tokens consecutive spaces produce in documents — reject
    // it here rather than return bogus hits.
    val meta = q.agg(collect_set(col("plen")),
      max(col("phrase").rlike("(^| )( |$)") || col("phrase") === "")).head()
    require(!meta.isNullAt(1), "phraseSearch needs at least one phrase")
    require(!meta.getBoolean(1),
      "phraseSearch phrases must be non-blank with single spaces")
    val lengths = meta.getSeq[Int](0).sorted
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("w"))
    val perLen = lengths.map { l =>
      // guarded: Spark's sequence(1, 0) counts DOWN, so short docs
      // must take the empty array, not a descending range
      val grams = when(size(col("w")) >= l,
        expr(s"transform(sequence(1, size(w) - ${l - 1}), " +
          s"i -> array_join(slice(w, i, $l), ' '))"))
        .otherwise(array().cast("array<string>"))
      toks.select(col("doc_id"),
          posexplode(grams).as(Seq("pos", "gram")))
        .join(broadcast(q.filter(col("plen") === l)),
          col("gram") === col("phrase"))
        .select(col("query_id"), col("doc_id"), col("pos"))
    }
    perLen.reduce(_ unionAll _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
  }

  /** [[phraseSearch]] as a ZERO-SHUFFLE projection: the phrase list
    * rides as literals inside compiled higher-order functions (the
    * broadcast-by-codegen pattern), and each document's matches are
    * computed entirely within its own row — no join, no aggregation,
    * no state. Same output contract and overlap semantics as
    * [[phraseSearch]] (spec-pinned parity).
    *
    * Use this form when the phrase list is a bounded driver-side list
    * (the common case — watchlists, benchmark strings, navigation
    * queries): per-row work is O(words × Σ phrase lengths) and the scan
    * never shuffles. Use [[phraseSearch]] when the query set is itself
    * a big DataFrame. Being stateless, this form runs UNCHANGED on an
    * unbounded stream in append mode (pass `passthroughCols` to keep
    * event time for downstream windowing). */
  def phraseSearchInline(docs: DataFrame, phrases: Seq[(Int, String)],
                         idCol: String = "doc_id",
                         textCol: String = "text",
                         passthroughCols: Seq[String] = Nil): DataFrame = {
    require(phrases.nonEmpty, "phraseSearchInline needs phrases")
    // same blank-phrase rejection as phraseSearch: an empty token in
    // the phrase would "match" the empty tokens of consecutive spaces
    require(phrases.forall { case (_, p) =>
      p.nonEmpty && !p.startsWith(" ") && !p.endsWith(" ") &&
        !p.contains("  ")
    }, "phraseSearchInline phrases must be non-blank with single spaces")
    // the token array materializes behind its own select boundary:
    // splicing the split expression into the per-element filter
    // lambda would re-split the text once per token per phrase
    // (O(tokens²·phrases) per document — the trainNgrams lesson)
    val w = col("__w")
    val hits = phrases.map { case (qid, p) =>
      val l = p.split(" ", -1).length
      // guarded: sequence(0, negative) counts DOWN in Spark
      val pos = when(size(w) >= l,
        filter(sequence(lit(0), size(w) - l),
          i => array_join(slice(w, i + 1, lit(l)), " ") === p))
        .otherwise(array().cast("array<int>"))
      // try_: the struct is built BEFORE the n > 0 filter, so the
      // no-match rows must yield null here, not an ANSI index error
      struct(lit(qid).as("query_id"), size(pos).as("n"),
        try_element_at(pos, lit(1)).as("first_pos"))
    }
    docs.select(col(idCol).as("doc_id") +: passthroughCols.map(col) :+
        split(col(textCol), " ").as("__w"): _*)
      .select(col("doc_id") +: passthroughCols.map(col) :+
        explode(array(hits: _*)).as("h"): _*)
      .filter(col("h.n") > 0)
      .select(Seq(col("h.query_id").as("query_id"), col("doc_id"),
        col("h.n").cast("long").as("n_hits"),
        col("h.first_pos").as("first_pos")) ++ passthroughCols.map(col): _*)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of N ranked candidate
    * runs into one hybrid ranking — the standard way to combine a sparse
    * retriever (BM25) with a dense one (embedding top-k) without score
    * calibration, since only RANKS cross the fusion boundary.
    *
    * Each run must carry (query_id, doc_id, rank); a document's fused
    * score is Σ over the runs that returned it of 1/(rrfK + rank). Each
    * reciprocal is rounded to 9 decimals and summed as DECIMAL, so the
    * fused score is independent of run order and partitioning — exactly
    * replicable by an external SQL engine. `n_runs` reports how many
    * retrievers returned the document (agreement is itself a signal).
    * Ties break on doc_id, so the output ranking is deterministic.
    *
    * Scale: the retrievers do all the heavy work; fusion only ever sees
    * their top-n candidates — ≤ Σ runs' n × |queries| rows — so the one
    * groupBy here shuffles a candidate list, never a corpus. Plugging in
    * [[bm25TopK]] and [[graft.operators.Similarity.bruteForceTopK]] (or
    * any ivfTopK* variant) keeps each side's own pushdown/broadcast
    * shape untouched. */
  def rrfFuse(runs: Seq[DataFrame], k: Int, rrfK: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrfFuse needs at least one run")
    val contribs = runs.map(_.select(col("query_id"), col("doc_id"),
      round(lit(1.0) / (lit(rrfK.toDouble) + col("rank")), 9)
        .cast("decimal(28,9)").as("contrib")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("rrf_dec"),
        count(lit(1)).cast("int").as("n_runs"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_dec").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank"),
        round(col("rrf_dec").cast("double"), 6).as("rrf_score"),
        col("n_runs"))
  }
}
