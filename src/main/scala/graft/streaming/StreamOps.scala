package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints.TruncateOps
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the engine's operators.
  *
  * The parity core (`graft.Functioniser`) is a stateless narrow projection
  * and therefore works on streaming DataFrames unchanged — see
  * `StreamingSpec`. The operators here are the stateful ones that need
  * watermarks.
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

  /** Streaming exact dedup: first event per key wins (a replayed event
    * with a different timestamp is still a duplicate); state expires with
    * the watermark so memory is bounded by the dedup horizon. */
  def dedupByKey(events: DataFrame, keyCols: Seq[String],
                 tsCol: String = "ts",
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Input/output/state rows for streaming MinHash dedup. */
  case class StreamDoc(doc_id: Long, text: String, ts: Timestamp)
  case class DupCandidate(id_a: Long, id_b: Long, est_jaccard: Double)
  case class BandedDoc(doc_id: Long, ts: Timestamp, sig: Seq[Long],
                       band: Int, bucket: Long)
  case class SigEntry(tsMicros: Long, docId: Long, sig: Seq[Long])
  case class BucketState(entries: Seq[SigEntry])

  /** Streaming MinHash near-dup detection via stateful LSH bands — the
    * Structured Streaming form of `Dedup.minHashLshPairs`.
    *
    * Each document is shingled and MinHash-signed as a narrow projection
    * (the scalar `minhash_signature` expression — an aggregate can't
    * precede a stateful operator in append mode), exploded into the SAME
    * `(band, bucket)` keys as the batch operator, and grouped by bucket:
    * per-bucket state holds the (ts, id, signature) of every in-horizon
    * member, and an arriving document emits a `DupCandidate` against each
    * stored member whose signature agreement ≥ `threshold`.
    *
    * Two deliberate divergences from batch, both inherent to streaming:
    *   - pairs are scored by SIGNATURE AGREEMENT (the standard unbiased
    *     Jaccard estimator), not exact-verified — exact verify would
    *     require holding every shingle set in state;
    *   - a pair colliding in several bands is emitted once per colliding
    *     band (at-least-once semantics) — cross-key dedup would need a
    *     second stateful operator; dedup downstream (e.g. `foreachBatch`
    *     + `dropDuplicates`) or in the consumer.
    *
    * State is bounded by the watermark horizon per bucket: entries older
    * than the watermark are evicted on every visit, the whole bucket
    * expires by event-time timeout once the watermark passes its newest
    * entry, and incoming late rows are dropped. At 100 TB-rate ingest the
    * shuffle is `bands` small rows per document — same keys, same
    * volume as the batch LSH join's build side. */
  def minHashDupPairsStream(docs: Dataset[StreamDoc], n: Int = 3,
                            numHashes: Int = 64, bands: Int = 32,
                            threshold: Double = 0.5,
                            watermark: String = "2 hours"): Dataset[DupCandidate] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val session = docs.sparkSession
    import session.implicits._

    val banded = docs.toDF()
      .withWatermark("ts", watermark)
      .withColumn("shingles",
        graft.operators.TextAnalysis.hashedShingles(col("text"), n))
      .filter(size(col("shingles")) > 0)
      .withColumn("sig", org.apache.spark.sql.graftext.MinHashSignature(
        col("shingles"), numHashes))
      .select(col("doc_id"), col("ts"), col("sig"),
        explode(graft.operators.Dedup.bandBuckets(col("sig"), bands, rows))
          .as("bb"))
      .select(col("doc_id"), col("ts"), col("sig"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .as[BandedDoc]

    def agreement(a: Seq[Long], b: Seq[Long]): Double = {
      var eq = 0
      var k = 0
      val n = math.min(a.length, b.length)
      while (k < n) {
        if (a(k) == b(k)) eq += 1
        k += 1
      }
      eq.toDouble / math.max(n, 1)
    }

    banded.groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState[BucketState, DupCandidate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), in: Iterator[BandedDoc],
         state: GroupState[BucketState]) =>
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val kept = state.getOption.map(_.entries).getOrElse(Vector.empty)
            .filter(_.tsMicros >= wmMicros) // horizon eviction
          val incoming = in
            .map(d => SigEntry(micros(d.ts), d.doc_id, d.sig))
            .filter(_.tsMicros >= wmMicros) // standard late-data drop
            .toVector.sortBy(e => (e.tsMicros, e.docId))
          val out = Vector.newBuilder[DupCandidate]
          var entries: Vector[SigEntry] = kept.toVector
          incoming.foreach { e =>
            entries.foreach { o =>
              if (o.docId != e.docId) { // replays never pair with themselves
                val est = agreement(o.sig, e.sig)
                if (est >= threshold)
                  out += DupCandidate(math.min(o.docId, e.docId),
                    math.max(o.docId, e.docId), est)
              }
            }
            // a replayed doc REPLACES its entry only when the replay is
            // NEWER — state stays bounded by distinct docs per bucket,
            // and an out-of-order older replay can't shorten the doc's
            // horizon (it would evict earlier and miss later pairs)
            if (!entries.exists(o => o.docId == e.docId &&
                o.tsMicros >= e.tsMicros))
              entries = entries.filterNot(_.docId == e.docId) :+ e
          }
          if (entries.nonEmpty) {
            state.update(BucketState(entries))
            // expire the bucket once the watermark passes its newest entry
            state.setTimeoutTimestamp(math.max(
              entries.map(_.tsMicros).max / 1000 + 1,
              state.getCurrentWatermarkMs() + 1))
          } else if (state.exists) {
            state.remove()
          }
          out.result().iterator
      }
  }

  /** Streaming passage-level dedup — the Structured Streaming form of
    * `Dedup.dedupPassages`: each arriving document is split into
    * non-overlapping `windowWords`-word passages, a passage already
    * seen IN ARRIVAL ORDER within the watermark horizon is dropped, and
    * the survivors are reassembled per document. Emits
    * (doc_id, text_deduped, n_kept, n_dropped) once the watermark
    * closes the document's window — one row per document, a
    * fully-duplicated document included (a per-document marker row
    * rides through the chunk dedup so no document can vanish).
    *
    * Inherent divergence from batch, documented rather than hidden:
    * batch "first occurrence" is (doc_id, position) order; streaming is
    * ARRIVAL order, and two documents sharing a new passage in the SAME
    * micro-batch race for it (exactly one wins). Feed in id order, one
    * batch at a time, and the output equals the batch operator
    * (spec-pinned). State: one row per distinct passage within the
    * watermark horizon (`dropDuplicatesWithinWatermark`) plus the
    * per-window reassembly counters — both engine-owned, both
    * watermark-bounded. */
  def dedupPassagesStream(docs: Dataset[StreamDoc], windowWords: Int = 10,
                          watermark: String = "2 hours"): DataFrame = {
    require(windowWords >= 1, "windowWords must be >= 1")
    val w = lit(windowWords)
    val nChunks = greatest(
      ceil(size(col("ws")) / w.cast("double")), lit(1L)).cast("int")
    val withWs = docs.toDF()
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        graft.operators.TextAnalysis.tokens(coalesce(col("text"), lit("")))
          .as("ws"))
    val chunked = withWs
      .select(col("doc_id"), col("ts"),
        lit(null).cast("long").as("total"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(col("ws"), i * w + 1, w), " ")))
          .as(Seq("ci", "chunk")))
    // one marker row per document: its key is NUL-prefixed (the same
    // reserved separator hashKey uses), so no whitespace-split passage
    // can collide with it unless the text itself contains NUL; it
    // always survives the chunk dedup, so a fully-duplicated document
    // still emits its row, and it carries the doc's total chunk count
    // for the dropped computation
    val markers = withWs
      .select(col("doc_id"), col("ts"), nChunks.cast("long").as("total"),
        lit(-1).as("ci"),
        concat(lit("\u0000doc:"), col("doc_id")).as("chunk"))
    chunked.unionByName(markers)
      .dropDuplicatesWithinWatermark("chunk")
      .groupBy(window(col("ts"), "1 second"), col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("ci") >= 0,
            struct(col("ci"), col("chunk"))))),
          _.getField("chunk")), " ").as("text_deduped"),
        sum(when(col("ci") >= 0, 1L).otherwise(0L)).as("n_kept"),
        (max(col("total")) -
          sum(when(col("ci") >= 0, 1L).otherwise(0L))).as("n_dropped"))
      .select(col("doc_id"), col("text_deduped"),
        col("n_kept"), col("n_dropped"))
  }

  /** Streaming benchmark decontamination — the Structured Streaming form
    * of `Curation.contaminationFlags`: each arriving document is flagged
    * when it shares ≥ `minShared` distinct n-gram shingles with the
    * STATIC benchmark set. Emits (doc_id, n_shared) for flagged docs.
    *
    * Shape: shingle the stream (narrow projection), stream-static
    * broadcast-join against the benchmark's distinct shingle index (the
    * join is stateless — the static side broadcasts exactly as in
    * batch), then a per-document windowed count finalized by the
    * watermark. `hashedShingles` is already distinct per document, so
    * the plain count IS the distinct-shingle count (streaming forbids
    * exact count-distinct; none is needed). State is one counter per
    * (window, flagged-candidate doc) within the watermark horizon —
    * the broadcast join discards non-benchmark shingles BEFORE state,
    * so an uncontaminated corpus contributes almost nothing. Each
    * doc_id arrives once, so every count closes with its window; at
    * scale pre-materialize the benchmark shingle index to parquet
    * instead of re-deriving it per micro-batch. */
  def decontaminateStream(docs: Dataset[StreamDoc], benchmark: DataFrame,
                          benchTextCol: String = "text", n: Int = 3,
                          minShared: Int = 5,
                          watermark: String = "2 hours"): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val benchShingles = benchmark.select(
        explode(graft.operators.TextAnalysis
          .hashedShingles(col(benchTextCol), n)).as("shingle"))
      .distinct()
    docs.toDF()
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        explode(graft.operators.TextAnalysis.hashedShingles(col("text"), n))
          .as("shingle"))
      .join(broadcast(benchShingles), "shingle")
      .groupBy(window(col("ts"), "1 second"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id"), col("n_shared"))
  }

  /** Streaming Gopher quality gate — the Structured Streaming form of
    * `TextAnalysis.gopherQualityFlags`: each arriving document is
    * measured against the Rae 2021 Appendix-A rules and emitted with
    * the per-rule measurements and combined `keep` flag, plus the event
    * time for downstream windowing.
    *
    * Shape: the batch operator is a pure codegen'd projection (zero
    * shuffle, zero state), so the streaming form is IDENTICAL code
    * applied to the micro-batch — stateless, append-mode, no watermark
    * required; rows flow at scan speed. This is the 100 TB ingest
    * pattern: gate text quality inline on arrival, before any stateful
    * dedup spends shuffle capacity on junk. */
  def gopherGateStream(docs: Dataset[StreamDoc],
                       minWords: Int = 50, maxWords: Int = 100000,
                       minMeanWordLen: Double = 3.0,
                       maxMeanWordLen: Double = 10.0,
                       maxSymbolRatio: Double = 0.1,
                       maxBulletFrac: Double = 0.9,
                       maxEllipsisFrac: Double = 0.3,
                       minAlphaFrac: Double = 0.8,
                       minStopwords: Int = 2): DataFrame = {
    graft.operators.TextAnalysis.gopherQualityFlags(
      docs.toDF(), "doc_id", "text", minWords, maxWords, minMeanWordLen,
      maxMeanWordLen, maxSymbolRatio, maxBulletFrac, maxEllipsisFrac,
      minAlphaFrac, minStopwords,
      // ts passes through the projection — re-joining it here would be
      // a stateful stream-stream self-join for a stateless gate
      passthroughCols = Seq("ts"))
  }

  /** Streaming Gopher repetition gate — the Structured Streaming form
    * of `TextAnalysis.gopherRepetitionFlags` (Rae 2021 App. A
    * repetition rules: duplicate line/paragraph fractions, top/dup
    * n-gram character fractions). Like [[gopherGateStream]] the batch
    * operator is a stateless per-row projection (native one-pass
    * expressions, zero shuffle), so the streaming form is IDENTICAL
    * code on the micro-batch — append-mode, no watermark; the two
    * gates compose into the full Gopher filter on the ingest path. */
  def repetitionGateStream(docs: Dataset[StreamDoc]): DataFrame =
    graft.operators.TextAnalysis.gopherRepetitionFlags(
      docs.toDF(), "doc_id", "text", passthroughCols = Seq("ts"))

  /** Streaming ensemble quality blend — the Structured Streaming form
    * of `TextAnalysis.blendQuality`: normalization bounds are fit ONCE
    * on a reference corpus (`TextAnalysis.fitQualityStats`, six
    * doubles) and ride as plan literals, so each micro-batch scores as
    * a stateless constant-folded projection — append-mode, no
    * watermark, zero shuffle. Re-fitting the bounds means restarting
    * the query: a normalization must not drift mid-stream. */
  def blendQualityStream(docs: Dataset[StreamDoc],
                         stats: graft.operators.TextAnalysis.QualityStats,
                         cutoff: Double = 0.5): DataFrame =
    graft.operators.TextAnalysis.blendQuality(
      docs.toDF(), stats, "doc_id", "text", cutoff = cutoff,
      passthroughCols = Seq("ts"))

  /** Streaming subword tokenization against a trained piece inventory
    * — the ingest-side of the WordPiece family: the inventory (a
    * [[graft.operators.TextAnalysis.trainPieces]] result, bounded topN
    * rows) collects once at stream START and rides inside the compiled
    * `GreedyPieces` expression, so each micro-batch tokenizes at scan
    * speed with zero shuffle, zero state, no watermark — append-mode.
    * Retraining the inventory means restarting the query, which is the
    * correct semantics: a tokenizer must not drift mid-corpus. */
  def piecesTokenizeStream(docs: Dataset[StreamDoc], vocab: DataFrame,
                           maxPieceLen: Int = 8): DataFrame =
    graft.operators.TextAnalysis.piecesTokenize(
      docs.toDF(), "doc_id", "text", vocab, maxPieceLen)

  /** Streaming BPE tokenization from a PERSISTED model
    * ([[graft.operators.ModelStore.writeBpeModel]]): the merge table
    * loads once at stream start (kind/row-count verified eagerly,
    * before the query runs) and rides as literals inside compiled
    * greedy folds — each micro-batch tokenizes at scan speed with
    * zero shuffle, zero state, append-mode. This is the
    * trained-Monday-gates-Tuesday shape: the stream restarts against
    * the same store and produces the same subwords, no retraining.
    * Retraining means writing a NEW store and restarting the query
    * (the piecesTokenizeStream no-drift contract). */
  def bpeTokenizeStream(docs: Dataset[StreamDoc],
                        modelPath: String): DataFrame =
    graft.operators.TextAnalysis.bpeTokenize(docs.toDF(),
      graft.operators.ModelStore.bpeFromModel(
        docs.sparkSession, modelPath),
      "text", "doc_id")

  /** Streaming WordPiece tokenization from a persisted pieces store —
    * [[bpeTokenizeStream]]'s greedy-longest-match sibling: inventory
    * + maxPieceLen load and kind-verify at stream start, then each
    * micro-batch tokenizes as a zero-state scan-speed projection. */
  def piecesTokenizeStoredStream(docs: Dataset[StreamDoc],
                                 modelPath: String): DataFrame =
    graft.operators.ModelStore.piecesTokenizeFromModel(
      docs.toDF(), modelPath)

  /** Streaming quality-classifier scoring from a persisted weight
    * store — [[scoreLogisticStream]] with the weights loaded (and
    * kind-verified) from [[graft.operators.ModelStore]] at stream
    * start instead of passed in-session: the classifier trained
    * Monday gates Tuesday's stream with no retraining. Stateless
    * compiled-literal projection, append-mode. */
  def scoreLogisticStoredStream(docs: Dataset[StreamDoc],
                                modelPath: String): DataFrame =
    graft.operators.TextClassify.scoreLogisticInline(
      docs.toDF(),
      graft.operators.ModelStore.logisticFromModel(
        docs.sparkSession, modelPath),
      "doc_id", "text", passthroughCols = Seq("ts"))

  /** Streaming order-n Kneser-Ney fluency scoring from a PERSISTED
    * n-gram stack ([[graft.operators.ModelStore.writeNgramModel]]):
    * the model loads (kind/row-count verified) at stream start; each
    * micro-batch's grams stream-static LEFT-join the model-sized
    * statistic tables and the per-document mean log-prob aggregates
    * in update/complete mode. State is one row per document ever
    * seen (the streaming-exact-dedup posture — bound it upstream by
    * batching or key TTL if the doc-id space is unbounded). The
    * model must not drift mid-stream: retraining = new store +
    * query restart (the piecesTokenizeStream contract). */
  def knScoreStream(docs: Dataset[StreamDoc], modelPath: String,
                    order: Int = 3): DataFrame =
    graft.operators.LanguageModel.scoreByKneserNeyN(docs.toDF(),
      graft.operators.ModelStore.ngramsFromModel(
        docs.sparkSession, modelPath),
      "doc_id", "text", order)

  /** Streaming quality-classifier scoring — the inference side of
    * `TextClassify.trainLogisticHashed`: the trained weight frame
    * (dim+1 bounded rows) collects once at stream start and rides
    * inside a compiled decimal fold, so each micro-batch scores as a
    * stateless zero-shuffle projection — append-mode, no watermark.
    * Retraining means restarting the query (a filter model must not
    * drift mid-corpus — the piecesTokenizeStream contract). */
  def scoreLogisticStream(docs: Dataset[StreamDoc],
                          weights: DataFrame): DataFrame =
    graft.operators.TextClassify.scoreLogisticInline(
      docs.toDF(), weights, "doc_id", "text",
      passthroughCols = Seq("ts"))

  /** Streaming MAD outlier gate: thresholds are fit ONCE on a
    * reference frame (`Stats.fitMad`, two round-6 scalars) and ride as
    * plan literals — each micro-batch gates as a stateless projection,
    * append-mode, zero state (the blendQualityStream pattern applied
    * to robust value cleaning). */
  def madGateStream(rows: DataFrame, valueCol: String, median: Double,
                    scaledMad: Double, k: Double = 3.5): DataFrame =
    graft.operators.Stats.madGate(rows, valueCol, median, scaledMad, k)

  /** Streaming perceptual-image dedup: each arriving image asset
    * (id, content, meta.mime — the multimodal asset schema) is decoded
    * once, pHashed, and probed against a static corpus-hash frame (a
    * persisted [[graft.operators.Multimodal.perceptualHashes]] result);
    * matches within `hammingMax` emit (id, corpus_id, hamming).
    *
    * Shape: decode is the codec-boundary `mapPartitions` on the
    * micro-batch; the probe is a stream-static equi-join on the
    * pigeonhole chunk keys; candidate dedup is the first-agreeing-chunk
    * EXPRESSION rather than `distinct()`, so the whole pipeline is
    * stateless — append-mode, no watermark, per-batch cost flat in the
    * stored corpus. This is the image ingest mirror of
    * [[dedupAgainstStoreStream]]. */
  def phashDedupStream(assets: DataFrame, corpusHashes: DataFrame,
                       hammingMax: Int = 3, chunks: Int = 4): DataFrame =
    graft.operators.Multimodal.phashNearDupPairsAgainst(
      graft.operators.Multimodal.perceptualHashes(assets),
      corpusHashes, hammingMax, chunks)

  /** Streaming C4 line-level cleaning — the Structured Streaming form
    * of `TextAnalysis.c4Clean` (Raffel 2020 §2.2 heuristics:
    * terminal-punctuation line filter, short-line drop, page gates).
    * Stateless per-row projection like the Gopher gates — append-mode,
    * no watermark, scan-speed on arrival. */
  def c4CleanStream(docs: Dataset[StreamDoc],
                    minWordsPerLine: Int = 5,
                    minSentences: Int = 3): DataFrame =
    graft.operators.TextAnalysis.c4Clean(
      docs.toDF(), "doc_id", "text", minWordsPerLine, minSentences,
      passthroughCols = Seq("ts"))

  /** Streaming Unicode normalization / mojibake repair — the
    * Structured Streaming form of `Normalize.normalizeText` (ftfy/NFKC
    * class fixes), the very first hop of a crawl ingest stream:
    * encoding noise is cheapest to kill before any stateful operator
    * sees (and keys state by) the noisy bytes. Stateless per-row
    * projection — append-mode, no watermark, scan-speed on arrival. */
  def normalizeTextStream(docs: Dataset[StreamDoc],
                          form: String = "NFKC",
                          repairMojibake: Boolean = true): DataFrame =
    graft.operators.Normalize.normalizeText(
      docs.toDF(), "doc_id", "text", form, repairMojibake,
      passthroughCols = Seq("ts"))

  /** Streaming robots gate — the Structured Streaming form of
    * `Robots.robotsGate`: each arriving frontier record checks against
    * the parsed rule table. The batch operator's per-key decision
    * aggregate would be a stateful streaming aggregation, so here the
    * (tiny, policy-sized) rule table collects ONCE at stream start
    * into a host → rules literal map riding inside the plan — the
    * fit-once convention of the scoring/threshold streams — and the
    * decision becomes a pure per-row projection: filter the host's
    * rules to path-prefix matches, array_max picks (longest, Allow on
    * tie), missing host or no match defaults to allowed. Stateless,
    * append-mode, == batch robotsGate row-for-row (parity-spec'd);
    * refresh rules by restarting the query. */
  def robotsGateStream(urls: DataFrame, rules: DataFrame,
                       urlCol: String = "url"): DataFrame = {
    import org.apache.spark.sql.functions._
    val table: Map[String, Seq[(Int, Boolean, String)]] = rules
      .select(col("host"), col("allow"), col("prefix"),
        col("prefix_len"))
      .collect()
      .map(r => (r.getString(0),
        (r.getInt(3), r.getBoolean(1), r.getString(2))))
      .groupBy(_._1).map { case (h, rs) => h -> rs.map(_._2).toSeq }
    val tableLit = typedlit(table)
    val host = graft.operators.UrlOps.hostOf(col(urlCol))
    val rawPathq = regexp_extract(col(urlCol),
      "^(?i)https?://[^/?#]*([^#]*)", 1)
    val pathq = when(host.isNotNull,
      when(rawPathq =!= "", rawPathq).otherwise(lit("/")))
    val winner = array_max(filter(element_at(tableLit, host),
      r => pathq.startsWith(r.getField("_3"))))
    urls.withColumn("host", host)
      .withColumn("allowed",
        coalesce(winner.getField("_2"), lit(true)))
      .withColumn("rule_prefix", winner.getField("_3"))
  }

  /** Streaming URL canonicalization — the Structured Streaming form
    * of `UrlOps.canonicalizeUrls`, the frontier/ingest hop that keys
    * URL-level dedup: canonical key + host + approximate eTLD+1 per
    * arriving record. Stateless per-row projection — append-mode, no
    * watermark; takes a DataFrame (any upstream schema with an id and
    * a url column) like the other stream-static/stateless ops. */
  def canonicalizeUrlsStream(records: DataFrame,
                             idCol: String = "doc_id",
                             urlCol: String = "url",
                             stripWww: Boolean = true,
                             passthroughCols: Seq[String] = Seq("ts"))
      : DataFrame =
    graft.operators.UrlOps.canonicalizeUrls(
      records, idCol, urlCol, stripWww, passthroughCols)

  /** Streaming HTML → main-content extraction — the Structured
    * Streaming form of `HtmlExtract.extractText` (jusText-class markup
    * stripping + line-level boilerplate rules), the ingest-time entry
    * point for raw crawl pages: the `text` field carries the HTML.
    * Stateless per-row projection like the C4/Gopher gates —
    * append-mode, no watermark, scan-speed on arrival; feeds
    * [[c4CleanStream]] downstream exactly as in batch. */
  def extractTextStream(docs: Dataset[StreamDoc],
                        minChars: Int = 25,
                        maxLinkDensity: Double = 0.33,
                        minStopFrac: Double = 0.0): DataFrame =
    graft.operators.HtmlExtract.extractText(
      docs.toDF(), "doc_id", "text", minChars, maxLinkDensity,
      minStopFrac, passthroughCols = Seq("ts"))

  /** Streaming sentence segmentation — the Structured Streaming form
    * of `Sentences.splitSentences`: each arriving doc fans out to its
    * per-sentence rows (the unit for passage dedup / retrieval /
    * packing downstream). Stateless projection + one Generate —
    * append-mode, no watermark, scan-speed on arrival. */
  def splitSentencesStream(docs: Dataset[StreamDoc]): DataFrame =
    graft.operators.Sentences.splitSentences(
      docs.toDF(), "doc_id", "text", passthroughCols = Seq("ts"))

  /** Streaming readability — `Sentences.readabilityScores` on arrival:
    * the per-doc quality columns (words/sentences/syllables, Flesch,
    * FK grade) join the Gopher/C4 gates as ingest-time signals.
    * Stateless per-row projection — append-mode, no watermark. */
  def readabilityScoresStream(docs: Dataset[StreamDoc]): DataFrame =
    graft.operators.Sentences.readabilityScores(
      docs.toDF(), "doc_id", "text", passthroughCols = Seq("ts"))

  /** Streaming sitemap parsing — `Sitemaps.parseSitemaps` over
    * arriving fetched sitemap bodies: each file fans out to its
    * per-entry rows (and index files to their child-sitemap locs, fed
    * back into the fetch frontier). Stateless projection + one
    * Generate — append-mode, no watermark. */
  def parseSitemapsStream(files: DataFrame, hostCol: String = "host",
                          xmlCol: String = "xml"): DataFrame =
    graft.operators.Sitemaps.parseSitemaps(files, hostCol, xmlCol)

  /** Streaming robots `Sitemap:` discovery — the line scan of
    * `Robots.sitemapDirectives` minus its batch-side distinct (a
    * stream cannot dedup unboundedly without state; feed the output
    * through URL-keyed dedup downstream if exactly-once discovery
    * matters). Stateless explode + filter — append-mode. */
  def sitemapDirectivesStream(robots: DataFrame,
                              hostCol: String = "host",
                              bodyCol: String = "body"): DataFrame =
    graft.operators.Robots.sitemapDirectivesRaw(robots, hostCol, bodyCol)

  /** Streaming rendezvous sharding — `Layout.rendezvousShards` on
    * arriving records: the stable-store router at ingest time (each
    * record goes to the shard that owns its key, and growing the
    * shard count re-routes only ~1/(n+1) of traffic). Stateless
    * O(nShards)-hash projection — append-mode, == batch assignment
    * for the same key by construction. */
  def rendezvousShardsStream(records: DataFrame, keyCols: Seq[String],
                             nShards: Int,
                             outCol: String = "shard"): DataFrame =
    graft.sources.Layout.rendezvousShards(records, keyCols, nShards,
      outCol)

  /** Typed event shape for [[seasonalAnomaliesStream]] inputs. */
  case class MetricEvent(event_id: Long, ts: java.sql.Timestamp,
                         event_type: String, value: Double)

  /** Streaming seasonal-baseline anomalies — `Events.seasonalScore`
    * against a batch-fitted (key, hour-of-day) cell table: the
    * periodic complement to `rollingAnomaliesStream`, for metrics
    * where "normal" depends on the clock. The cell table (≤ |keys|×24
    * rows) collects ONCE at stream start into a literal map riding
    * inside the plan — the fit-once convention of the MAD/quantile/
    * logistic gates — so scoring is a stateless append-mode
    * projection. Events whose (key, hour) has no baseline cell DROP
    * (inner-join parity with the batch scorer); refresh the baseline
    * by restarting the query. */
  def seasonalAnomaliesStream(events: DataFrame, baseline: DataFrame,
                              keyCol: String = "event_type",
                              valueCol: String = "value",
                              tsCol: String = "ts",
                              idCol: String = "event_id",
                              k: Double = 3.0,
                              minObs: Long = 30L): DataFrame = {
    import org.apache.spark.sql.functions._
    require(k > 0, "k must be > 0")
    val table: Map[String, (Long, Double, Double)] =
      graft.operators.Events
        .seasonalCells(baseline, keyCol, valueCol, tsCol)
        // a null baseline key must not become the literal map key
        // "null#<h>" (which a live event whose key is the STRING
        // "null" would then match) — the batch scorer's inner join
        // drops null keys on both sides, so drop them here too
        .filter(col("__key").isNotNull)
        .collect()
        .map(r => (r.getString(0) + "#" + r.getInt(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4))))
        .toMap
    val tableLit = typedlit(table)
    val hr = hour(col(tsCol))
    val cell = element_at(tableLit,
      concat(col(keyCol), lit("#"), hr.cast("string")))
    def disp(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      round(c * lit(1e6)).cast("double") / lit(1e6)
    events
      .withColumn("hour", hr)
      .withColumn("__cell", cell)
      .filter(col("__cell").isNotNull)
      .select(col(idCol), col(keyCol), col("hour"), col(valueCol),
        col("__cell._1").as("n_obs"),
        disp(col("__cell._2")).as("cell_mean"),
        disp(col("__cell._3")).as("cell_sd"),
        (col("__cell._1") >= minObs && col("__cell._3") > 0 &&
          abs(col(valueCol) - col("__cell._2")) >
            lit(k) * col("__cell._3")).as("is_anomaly"))
  }

  /** Streaming WARC parsing — `Warc.parseWarc` over arriving crawl
    * blobs: the ingest entry point that turns fetched WARC batches
    * into per-record rows (native length-driven walk, malformed tails
    * drop). Stateless projection + one Generate — append-mode, no
    * watermark; feeds [[extractTextStream]] downstream as in batch. */
  def parseWarcStream(records: DataFrame, idCol: String = "doc_id",
                      blobCol: String = "blob"): DataFrame =
    graft.sources.Warc.parseWarc(records, idCol, blobCol)

  /** Streaming `.warc.gz` ingest — `Warc.parseWarcGz` then
    * `Warc.httpResponses` over arriving compressed crawl batches: the
    * REAL CommonCrawl entry point as a stream (per-record gzip
    * members, byte-level record walk, HTTP split, charset-chain body
    * decode). Stateless projections + one Generate — append-mode, no
    * watermark; `body` feeds [[extractTextStream]] exactly as in
    * batch. */
  def parseWarcGzStream(records: DataFrame, idCol: String = "doc_id",
                        blobCol: String = "blob"): DataFrame =
    graft.sources.Warc.httpResponses(
      graft.sources.Warc.parseWarcGz(records, idCol, blobCol))

  /** Streaming heavy hitters — the Structured Streaming form of
    * `TextAnalysis.heavyHitterTokens` (running top tokens per group via
    * the Misra-Gries sketch aggregate): IDENTICAL batch code on the
    * unbounded stream, complete-mode output. The streaming state per
    * group is the sketch's own buffer — at most `capacity` counters
    * regardless of vocabulary, so state stays bounded forever without a
    * watermark: the streaming "trending terms" pattern, with the same
    * exactness guarantee as batch when `capacity` covers the
    * vocabulary. */
  def heavyHitterTokensStream(docs: DataFrame, textCol: String = "text",
                              groupCols: Seq[String] = Nil,
                              capacity: Int = 4096,
                              topN: Int = 20): DataFrame =
    graft.operators.TextAnalysis.heavyHitterTokens(
      docs, textCol, groupCols, capacity, topN)

  /** Streaming distinct-token estimation — the Structured Streaming form
    * of `TextAnalysis.approxDistinctTokens` (running vocabulary size per
    * group via the KMV sketch aggregate): identical batch code on the
    * unbounded stream, complete-mode output. Per-group state is the
    * sketch's own buffer — at most `k` 8-byte hashes regardless of
    * vocabulary, bounded forever without a watermark; and because the
    * KMV estimate depends only on the hashed-token SET, the running
    * answer after any prefix equals the batch answer on that prefix. */
  def approxDistinctTokensStream(docs: DataFrame, textCol: String = "text",
                                 groupCols: Seq[String] = Nil,
                                 k: Int = 1024): DataFrame =
    graft.operators.TextAnalysis.approxDistinctTokens(
      docs, textCol, groupCols, k)

  /** Streaming distribution statistics — the Structured Streaming form
    * of `Stats.quantileStats` (running per-group quantiles via the
    * mergeable GK sketch aggregate): identical batch code on the
    * unbounded stream, complete-mode output. Per-group state is the
    * sketch's own summary — O((1/ε)·log(εn)) tuples for ε > 0, bounded
    * without a watermark; at ε = 0 the summary is the exact sorted
    * multiset (a pure function of the values seen), so the running
    * answer after any prefix equals the batch answer on that prefix —
    * the chunking-proof regime the parity spec pins. */
  def quantileStatsStream(docs: DataFrame, valueCol: String,
                          qs: Seq[Double], eps: Double = 0.0,
                          groupCols: Seq[String] = Nil): DataFrame =
    graft.operators.Stats.quantileStats(docs, valueCol, qs, eps, groupCols)

  /** Running equal-width histogram — the Structured Streaming form of
    * `Stats.histogram` (the live distribution monitor that feeds the
    * same bins PSI/KS drift read offline): identical batch code on the
    * unbounded stream, complete/update-mode output. State is one count
    * per OBSERVED bin — bounded by value range / binWidth, no
    * watermark needed; the running answer after any prefix equals the
    * batch answer on that prefix (counts are prefix-decomposable),
    * which the parity spec pins. */
  def histogramStream(rows: DataFrame, valueCol: String,
                      binWidth: Double): DataFrame =
    graft.operators.Stats.histogram(rows, valueCol, binWidth)

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

  /** CCNet-style perplexity/quality banding on streams — the
    * Structured Streaming form of `Curation.bucketByQuantile`:
    * thresholds fit ONCE on a reference corpus (batch quantiles,
    * rounded 6) ride as literals and every arriving row is banded by
    * a stateless append-mode projection — the live head/middle/tail
    * router in front of a training-mix sink. Identical labels to the
    * batch gate on the same thresholds (parity-spec'd). */
  def quantileBucketStream(rows: DataFrame,
                           scoreCol: String,
                           thresholds: Seq[Double],
                           labels: Seq[String] =
                             Seq("tail", "middle", "head"),
                           bucketCol: String = "bucket"): DataFrame =
    graft.operators.Curation.bucketByThresholds(
      rows, col(scoreCol), thresholds, labels, bucketCol)

  /** Streaming phrase watch — the Structured Streaming form of
    * `TextSearch.phraseSearchInline`: the phrase list rides as literals
    * inside compiled higher-order functions and every arriving
    * document's matches are computed within its own row, so the op is
    * stateless, append-mode, watermark-free — the live content-watch /
    * benchmark-leak alarm pattern, at scan speed. Event time passes
    * through for downstream windowing. */
  def phraseSearchStream(docs: DataFrame, phrases: Seq[(Int, String)],
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    graft.operators.TextSearch.phraseSearchInline(
      docs, phrases, idCol, textCol, passthroughCols = Seq("ts"))

  /** Streaming ingest dedup against a persisted LSH signature store —
    * the Structured Streaming form of
    * `Dedup.minHashLshPairsAgainstStore`: each arriving document is
    * checked against the corpus whose signatures live at `path`
    * (written by `Dedup.writeBandSignatures`), and every near-dup pair
    * with exact Jaccard ≥ `threshold` is emitted as (id_a = stored id,
    * id_b = stream doc id, jaccard) — the batch operator's output on
    * the same rows.
    *
    * Shape: the store's band index and shingle sets load as STATIC
    * frames, so per-batch cost is ∝ the batch and the corpus is never
    * re-derived (the store IS the corpus's signatures — the streaming
    * payoff of the persisted layout). Stream docs shingle and sign with
    * the SCALAR `MinHashSignature` (value-identical to the store's
    * aggregate — spec-pinned; an aggregate ahead of the join would be
    * illegal in append mode anyway), bucket-join the store bands,
    * exact-verify against stored shingles (precision 1, like every LSH
    * path), and a watermark-bounded windowed aggregate dedups per-pair
    * band collisions, mirroring the batch `distinct()`. All joins are
    * stream-static and stateless; sketch parameters come from the
    * store's meta. */
  def dedupAgainstStoreStream(docs: Dataset[StreamDoc], path: String,
                              threshold: Double = 0.5,
                              watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.graftext.MinHashSignature
    val spark = docs.sparkSession
    val (n, numHashes, bands) =
      graft.operators.Dedup.readStoreMeta(spark, path)
    val rows = numHashes / bands
    // cold-start store (meta, empty shingles file, no band files — the
    // batch probe's guarded state; an empty partitioned write emits
    // nothing while the shingles write leaves a schema-only file): match
    // nothing instead of failing schema inference at query construction.
    // NON-empty shingles without bands is a crash between storeWrite's
    // shingle and band writes, bands without shingles a pre-fix torn
    // store, and NEITHER readable a crash during the very first shingles
    // write (meta lands first; even an empty-corpus store leaves the
    // schema-only shingles file, so (None, None) never means
    // "legitimately empty") — all three stay loud errors, exactly like
    // the batch guard.
    val frames =
      (scala.util.Try(spark.read.parquet(s"$path/bands")).toOption,
        scala.util.Try(spark.read.parquet(s"$path/shingles")).toOption)
    val (storeBands0, storeShingles0) = frames match {
      case (Some(b), Some(sh)) => (b, sh)
      case (None, Some(sh)) if !sh.isEmpty => throw new IllegalStateException(
        s"signature store at $path is partially written (shingles " +
          "without bands) — rebuild with writeBandSignatures")
      case (None, Some(_)) =>
        return docs.toDF().filter(lit(false))
          .select(col("doc_id").as("id_a"), col("doc_id").as("id_b"),
            lit(0.0).as("jaccard"))
      case (None, None) => throw new IllegalStateException(
        s"signature store at $path is partially written (meta without " +
          "shingles) — rebuild with writeBandSignatures")
      case (Some(_), None) => throw new IllegalStateException(
        s"signature store at $path is partially written (bands without " +
          "shingles) — rebuild with writeBandSignatures")
    }
    val storeBands = storeBands0
      .select(col("id"), col("band"), col("bucket"))
    val storeShingles = storeShingles0
      .select(col("id").as("id_a"), col("shingles").as("sh_a"))
    docs.toDF()
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        graft.operators.TextAnalysis.hashedShingles(col("text"), n)
          .as("sh_b"))
      .filter(size(col("sh_b")) > 0)
      .withColumn("sig", MinHashSignature(col("sh_b"), numHashes))
      .select(col("doc_id"), col("ts"), col("sh_b"),
        explode(graft.operators.Dedup.bandBuckets(col("sig"), bands, rows))
          .as("bb"))
      .select(col("doc_id"), col("ts"), col("sh_b"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .join(storeBands, Seq("band", "bucket"))
      .select(col("id").as("id_a"), col("doc_id").as("id_b"), col("ts"),
        col("sh_b"))
      .join(storeShingles, "id_a")
      .withColumn("n_common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_common").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_common"))
          .cast("double"))
      .filter(col("jaccard") >= threshold)
      // per-pair dedup: jaccard is identical across a pair's band
      // collisions, so max() under the windowed group reproduces the
      // batch distinct-then-verify result
      .groupBy(window(col("ts"), "1 second"), col("id_a"), col("id_b"))
      .agg(max(col("jaccard")).as("jaccard"))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Input rows for streaming embedding decontamination. */
  case class StreamEmb(vec_id: Long, vec: Seq[Double], ts: Timestamp)

  /** Streaming semantic decontamination / ingest near-dup — the
    * Structured Streaming form of `Similarity.lshNearDupPairsAgainst`:
    * each arriving embedding is checked against the STATIC corpus and
    * every (corpus, stream) pair with cosine ≥ `threshold` is emitted as
    * (id_a = corpus id, id_b = stream id, cosine), exactly the batch
    * operator's output on the same rows.
    *
    * Shape: the corpus side is prepared ONCE — (id, vec, norm) verify
    * frame and the banded hyperplane keys frame, both lazily
    * local-checkpointed so micro-batches reuse the materialized
    * partitions instead of re-hashing the corpus each trigger (at scale,
    * persist the keys frame next to the corpus like the MinHash
    * signature store). Each micro-batch hashes only its own rows with
    * the SAME planes, stream-static-joins the corpus keys on
    * (table, bucket) — stateless, the candidate join is inner and the
    * static side is hot — then re-scores candidates with exact cosine,
    * so precision is 1 and recall is the batch operator's banded-LSH
    * recall. The only STATE is the windowed per-pair dedup (a pair
    * colliding in several tables must emit once, mirroring the batch
    * `distinct()`), keyed by (window, id_a, id_b) and finalized by the
    * watermark. Zero-norm stream rows are excluded exactly as in batch
    * (NaN ≥ t is TRUE under Spark's NaN ordering). */
  def embeddingDecontaminateStream(stream: Dataset[StreamEmb],
                                   corpus: DataFrame, idCol: String,
                                   vecCol: String, threshold: Double,
                                   numPlanes: Int = 5, tables: Int = 64,
                                   seed: Long = 42L,
                                   watermark: String = "2 hours"): DataFrame = {
    import graft.functions.VectorFunctions._
    import org.apache.spark.sql.graftext.HyperplaneSignBuckets
    val old = corpus
      .select(col(idCol).as("id"), toDouble(col(vecCol)).as("vec"))
      .withColumn("norm", l2Norm(col("vec")))
      .filter(col("norm") > 0)
      .truncateLineage(false) // keys + every micro-batch's verify read this
    val dim = old.select(size(col("vec"))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)
    if (dim == 0) {
      // cold-start: an empty (or all-zero-vector) corpus matches
      // nothing — dim-0 planes would instead make the sign-bucket
      // kernel throw on the first real arriving row and kill the query
      return stream.toDF().filter(lit(false))
        .select(col("vec_id").as("id_a"), col("vec_id").as("id_b"),
          lit(0.0).as("cosine"))
    }
    val planes = graft.operators.Similarity
      .hyperplanes(tables * numPlanes, dim, seed)
    val corpusKeys = old.select(col("id"),
        posexplode(HyperplaneSignBuckets(col("vec"), planes, numPlanes,
          tables)).as(Seq("t", "bucket")))
      .truncateLineage(false) // hashed once, joined every micro-batch
    val arriving = stream.toDF()
      .withWatermark("ts", watermark)
      .select(col("vec_id"), col("ts"), toDouble(col("vec")).as("vec"))
      .withColumn("norm", l2Norm(col("vec")))
      .filter(col("norm") > 0)
      .select(col("vec_id"), col("ts"), col("vec"), col("norm"),
        posexplode(HyperplaneSignBuckets(col("vec"), planes, numPlanes,
          tables)).as(Seq("t", "bucket")))
    arriving.as("b").join(corpusKeys.as("a"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("id_a"), col("b.vec_id").as("id_b"),
        col("b.ts").as("ts"), col("b.vec").as("vec_b"),
        col("b.norm").as("norm_b"))
      .join(old.select(col("id").as("id_a"), col("vec").as("vec_a"),
        col("norm").as("norm_a")), "id_a")
      .withColumn("cosine", cosineWithNorms(
        dotProduct(col("vec_a"), col("vec_b")),
        col("norm_a"), col("norm_b")))
      .filter(col("cosine") >= threshold)
      // per-pair dedup: the cosine is identical for every table collision
      // of a pair, so max() under the windowed group reproduces the batch
      // distinct-then-score result
      .groupBy(window(col("ts"), "1 second"), col("id_a"), col("id_b"))
      .agg(max(col("cosine")).as("cosine"))
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
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
    * [[heavyHitterTokensStream]], which tracks RUNNING totals forever:
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

  /** Streaming entity resolution against a canonical dictionary: each
    * arriving record's string matches dictionary entries within
    * Levenshtein `maxDist` that share its head-noun block — the
    * stream-static form of `Dedup.editDistancePairs`, used to snap
    * noisy incoming names/titles onto a curated inventory at ingest.
    * STATELESS: the dictionary is a static frame (broadcast when
    * small), blocking + the threshold distance are expressions, so
    * each micro-batch is one equi-join — append-mode, no watermark,
    * no state. Unmatched records pass through with a null match (left
    * join), preserving the ingest stream. Output: every dictionary
    * match within budget, closest first by (dist, dict_id) —
    * downstream takes rank 1 for snap-to-canonical or all rows for
    * review queues. */
  def fuzzyMatchStream(stream: DataFrame, dictionary: DataFrame,
                       streamIdCol: String, streamStrCol: String,
                       dictIdCol: String, dictStrCol: String,
                       maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val dict = dictionary.select(col(dictIdCol).as("dict_id"),
      col(dictStrCol).as("__ds"),
      element_at(split(col(dictStrCol), " "), -1).as("__blk"))
    stream.select(col("*"),
        element_at(split(col(streamStrCol), " "), -1).as("__sblk"))
      .join(dict,
        col("__sblk") === col("__blk") &&
        abs(length(col(streamStrCol)) - length(col("__ds"))) <= maxDist &&
        levenshtein(col(streamStrCol), col("__ds"), maxDist) >= 0,
        "left")
      .select(col(streamIdCol), col(streamStrCol), col("dict_id"),
        col("__ds").as("dict_str"),
        levenshtein(col(streamStrCol), col("__ds"), maxDist).as("dist"))
  }

  /** Streaming referential quarantine — the ingest-time form of
    * [[graft.operators.Stats.referentialOrphans]]: records whose
    * foreign key has no match in the static `parent` dimension pass
    * through UNCHANGED (plus a `relationship` tag) for routing to a
    * quarantine sink, instead of being silently dropped by the first
    * downstream inner join. NULL keys quarantine too (a left-anti
    * join keeps them — nothing matches null), which on a stream is
    * the right default: both diseases need eyes on them before the
    * data lands.
    *
    * Shape: a stream-static LEFT-ANTI equi-join against the parent's
    * distinct key dictionary — STATELESS (no watermark; the dictionary
    * is re-planned per micro-batch, so a dimension refresh on disk is
    * picked up), append-mode, per-batch cost one broadcast-able
    * dictionary probe. The batch operator remains the summary/audit
    * form; this is the row-level router. */
  def referentialQuarantineStream(stream: DataFrame, parent: DataFrame,
                                  childKey: String, parentKey: String,
                                  relationship: String): DataFrame =
    stream.join(parent.select(col(parentKey).as("__pk")).distinct(),
        col(childKey) === col("__pk"), "left_anti")
      .withColumn("relationship", lit(relationship))

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

  case class CreditOut(user_id: Long, conversion_id: Long,
                       touch_type: String, credit: Double)
  case class AttrState(touches: Seq[Scd2Buf], pendConv: Seq[Scd2Buf])

  /** Streaming multi-touch attribution — the per-conversion form of
    * `Events.attributeConversions` (whose output is just the per-type
    * rollup of these rows): each conversion credits the user's touch
    * events inside `lookbackSeconds` before it, 1/n each under
    * `linear`, all to the (ts, id, type)-max touch under
    * `last_touch` — the same struct-max tie-break as batch, the same
    * round-6 per-touch credit.
    *
    * Finality: a conversion's credit set is fixed once its OWN time is
    * below the watermark — any touch that could still join its window
    * would be older than the conversion, hence older than the
    * watermark, hence dropped on arrival. Conversions with no in-window
    * touch emit nothing (the batch "unattributed gap"). Emitted rows
    * therefore equal the batch per-conversion credits over every
    * sub-watermark prefix, any arrival order (parity-spec'd).
    *
    * State per user is doubly bounded: touches older than
    * `watermark − lookback` can never join a future conversion's
    * window and are pruned every invocation; pending conversions are
    * watermark-bounded with a release timer (the
    * [[transitionPairsStream]] discipline). Caller applies
    * `withWatermark` upstream (EventTimeTimeout contract). */
  def attributeConversionsStream(events: Dataset[Scd2Event],
                                 conversionType: String,
                                 lookbackSeconds: Long,
                                 model: String = "last_touch")
      : Dataset[CreditOut] = {
    require(lookbackSeconds > 0, "lookbackSeconds must be positive")
    require(Set("last_touch", "linear")(model),
      "model must be last_touch or linear")
    import events.sparkSession.implicits._
    val lookbackMicros = lookbackSeconds * 1000000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, CreditOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Scd2Event],
         state: GroupState[AttrState]) =>
          val prior = state.getOption
            .getOrElse(AttrState(Vector.empty, Vector.empty))
          val wmMicros = state.getCurrentWatermarkMs() * 1000L
          val fresh = rows
            .map(e => Scd2Buf(micros(e.ts), e.event_id, e.value))
            .filter(_.tsMicros >= wmMicros).toVector
          val touches = (prior.touches ++
              fresh.filterNot(_.value == conversionType))
            .sortBy(e => (e.tsMicros, e.tie))
          val convs = (prior.pendConv ++
              fresh.filter(_.value == conversionType))
            .sortBy(e => (e.tsMicros, e.tie))
          val (readyConv, pendConv) = convs.span(_.tsMicros < wmMicros)
          val outs = readyConv.flatMap { c =>
            val inWin = touches.filter(t => t.tsMicros < c.tsMicros &&
              t.tsMicros >= c.tsMicros - lookbackMicros)
            if (inWin.isEmpty) Vector.empty
            else model match {
              case "last_touch" =>
                val w = inWin.maxBy(t => (t.tsMicros, t.tie, t.value))
                Vector(CreditOut(userId, c.tie, w.value, 1.0))
              case "linear" =>
                val credit = BigDecimal(1.0 / inWin.size)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP)
                  .toDouble
                inWin.map(t => CreditOut(userId, c.tie, t.value, credit))
            }
          }
          // touches below watermark − lookback can never join a future
          // (≥ watermark) conversion's window: prune — the state bound
          val keptTouches =
            touches.filter(_.tsMicros >= wmMicros - lookbackMicros)
          if (pendConv.nonEmpty) {
            state.update(AttrState(keptTouches, pendConv.toVector))
            val releaseAtMs = pendConv.head.tsMicros / 1000 + 1
            state.setTimeoutTimestamp(
              math.max(releaseAtMs, state.getCurrentWatermarkMs() + 1))
          } else if (keptTouches != prior.touches ||
              readyConv.nonEmpty) {
            state.update(AttrState(keptTouches, Vector.empty))
          }
          outs.iterator
      }
  }

  case class TransitionPair(user_id: Long, src_type: String,
                            dst_type: String)
  case class TransState(lastFinal: Option[Scd2Buf], buf: Seq[Scd2Buf])

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
  /** Streaming snapshot maintenance — the streaming form of
    * `Layout.applyChanges`: a CDC change stream (key + payload +
    * `seqCol` + `opCol` ∈ upsert|delete) continuously merges into a
    * parquet snapshot, micro-batch by micro-batch, via
    * `foreachBatch`. The snapshot must exist (write an initial one,
    * possibly empty-but-schema'd, before starting).
    *
    * Ordering + replay safety: when the snapshot carries `seqCol` as
    * a payload column (recommended — include it in the initial
    * write), each batch first drops STALE changes (change.seq ≤ the
    * snapshot's seq for that key), so late-arriving lower-seq
    * changes cannot overwrite newer state, and a micro-batch
    * REPLAYED after a checkpoint/swap race re-applies as a no-op —
    * end-to-end idempotent without a transaction log. Without
    * `seqCol` in the snapshot, replay of the SAME batch is still
    * idempotent (same upserts/deletes), but cross-batch seq order
    * must be guaranteed by the source.
    *
    * Scale shape per batch: `applyChanges`' broadcast-anti plan (the
    * snapshot never shuffles), plus — for the stale guard — one
    * left join of the BATCH against the snapshot's (key, seq)
    * projection. The rewrite lands in a sibling tmp dir and swaps in
    * by rename (the `Layout.compact` discipline), so a concurrent
    * reader never sees a half-written snapshot.
    *
    * `nBuckets = Some(n)` switches to the 100 TB path: the snapshot
    * must live in the `Layout.writeBucketedSnapshot` layout, each
    * micro-batch rewrites ONLY the `__bucket=N` directories its keys
    * touch (`applyChangesBucketed` with the partition-pruned stale
    * guard), and a fully-stale replayed batch skips the rewrite
    * entirely — per-batch IO ∝ the delta's bucket spread, never the
    * snapshot. */
  def applyChangesStream(changes: DataFrame, snapshotPath: String,
                         keyCols: Seq[String], checkpoint: String,
                         seqCol: String = "seq", opCol: String = "op",
                         nBuckets: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        nBuckets match {
          case Some(n) =>
            // the 100 TB path: the snapshot lives in the
            // writeBucketedSnapshot layout, each batch rewrites ONLY
            // the buckets its keys touch, and the stale-guard join is
            // partition-pruned to those buckets
            graft.sources.Layout.applyChangesBucketed(
              batch.sparkSession, snapshotPath, batch, keyCols, n,
              seqCol, opCol, dropStale = true)
            ()
          case None =>
            val spark = batch.sparkSession
            val snap = spark.read.parquet(snapshotPath)
            val eligible =
              if (!snap.columns.contains(seqCol)) batch
              else {
                val cur = snap.select(
                  keyCols.map(c => col(c).as(s"__s_$c")) :+
                    col(seqCol).as("__s_seq"): _*)
                val on = keyCols.map(c => col(c) <=> col(s"__s_$c"))
                  .reduce(_ && _)
                batch.join(cur, on, "left")
                  .filter(col("__s_seq").isNull ||
                    col(seqCol) > col("__s_seq"))
                  .select(batch.columns.map(col): _*)
              }
            val merged = graft.sources.Layout.applyChanges(
              snap, eligible, keyCols, seqCol, opCol)
            // the write action reads the CURRENT snapshot while
            // producing tmp; the swap happens only after it completes
            writeAndSwap(spark, snapshotPath, "applyChangesStream")(tmp =>
              merged.write.mode("overwrite").parquet(tmp))
        }
      }
      .start()
  }

  /** Produce a rewrite of a live directory into a sibling tmp (the
    * caller's `produce` runs with the live path still readable),
    * then swap it in by rename — the `Layout.compact` discipline.
    *
    * Visibility: the two-rename swap has a TRANSIENT window between
    * `rename(live, old)` and `rename(tmp, live)` in which the live
    * path does not exist — a concurrent reader in that window gets
    * FileNotFound and must retry; a reader outside it sees either
    * the complete old version or the complete new one, never a
    * half-written directory. (Readers that must never miss need a
    * versioned-dir + pointer-file indirection instead.)
    *
    * Crash recovery: a driver crash inside that window leaves the
    * snapshot parked at `__merge_old`. On entry, if the live path is
    * missing but `__merge_old` exists, it is renamed back before
    * producing — so a restarted stream heals the park instead of
    * failing its first read. */
  private def writeAndSwap(spark: org.apache.spark.sql.SparkSession,
                           livePath: String, what: String)
                          (produce: String => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(livePath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      p.getName + "__merge_tmp")
    val old = new org.apache.hadoop.fs.Path(p.getParent,
      p.getName + "__merge_old")
    if (!fs.exists(p) && fs.exists(old) && !fs.rename(old, p))
      throw new IllegalStateException(
        s"$what: crash recovery failed — could not restore $old")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    produce(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(p, old)) throw new IllegalStateException(
      s"$what: could not move $livePath aside")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p)
      throw new IllegalStateException(
        s"$what: swap-in failed — original restored, rewrite at $tmp")
    }
    fs.delete(old, true)
  }

  /** Continuously-refreshed retrieval: a document stream folds into
    * the persisted BM25 index (`TextSearch.writeSearchIndex` layout)
    * one micro-batch at a time — `TextSearch.mergeSearchIndex`'s
    * posting-union merge into a sibling tmp, swapped in by rename,
    * so concurrent `bm25FromIndex` probes always see a complete
    * index. The index must exist before the stream starts (write an
    * initial one, possibly from an empty corpus).
    *
    * Idempotence: each batch first drops doc ids ALREADY in the
    * index (one anti join against the postings' pruned doc_id
    * column), so a micro-batch replayed after a checkpoint/swap race
    * re-applies as a no-op instead of tripping the merge's
    * disjointness gate. Consequence: first write wins per doc id —
    * a re-crawled document with changed text is NOT re-indexed;
    * dedup/versioning belongs upstream (give revisions new ids or
    * rebuild the shard). Per-batch cost: the merge's posting union
    * (∝ index + batch) plus the pruned id scan — never corpus×batch
    * pairing. */
  def mergeSearchIndexStream(docs: DataFrame, indexPath: String,
                             checkpoint: String,
                             idCol: String = "doc_id",
                             textCol: String = "text",
                             shards: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val existing = spark.read.parquet(s"$indexPath/postings")
          .select(col("doc_id").as("__seen")).distinct()
        val fresh = batch
          .join(existing, col(idCol) === col("__seen"), "left_anti")
        if (!fresh.isEmpty) {
          writeAndSwap(spark, indexPath, "mergeSearchIndexStream")(tmp =>
            graft.operators.TextSearch.mergeSearchIndex(
              spark, indexPath, fresh, tmp, idCol, textCol, shards))
        }
      }
      .start()

  /** Incremental corpus statistics from a stream: each micro-batch
    * persists ONE mergeable profile shard (`Stats.writeProfileShards`
    * layout) under `path/batch=<id>`, so `Stats.profileFromShards`
    * over `path` yields the corpus profile at any moment WITHOUT
    * rescanning ingested data — the monitoring half of a streaming
    * ingest gate (row counts, null rates, min/max/mean drift), at
    * one bounded summary row-group per batch per shard key.
    *
    * Idempotence: the shard directory is keyed by the micro-batch id
    * and written with overwrite, the canonical exactly-once
    * `foreachBatch` sink pattern — a replayed batch rewrites its own
    * shard instead of double-counting. */
  def profileShardsStream(docs: DataFrame, path: String,
                          checkpoint: String, cols: Seq[String],
                          shardCols: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.operators.Stats.writeProfileShards(
          batch, s"$path/batch=$id", cols, shardCols)
      }
      .start()

  /** Incremental distinct counting from a stream: each micro-batch
    * persists ONE bounded register shard
    * (`Stats.writeCardinalityShards` layout) under `path/batch=<id>`,
    * so `Stats.cardinalityFromShards` over `path` yields the
    * corpus-level distinct estimates at any moment WITHOUT rescanning
    * ingested data — registers merge by MAX, so re-seen values across
    * batches collapse instead of double-counting (the property
    * per-batch `count(DISTINCT)` sums fundamentally lack).
    *
    * Idempotence: shard directory keyed by the micro-batch id,
    * written with overwrite — a replayed batch rewrites its own
    * shard, the [[profileShardsStream]] pattern. State is ZERO in
    * the stream itself; the parquet registers ARE the sketch,
    * bounded by m per (column, shard key, batch). */
  def cardinalityShardsStream(docs: DataFrame, path: String,
                              checkpoint: String, cols: Seq[String],
                              shardCols: Seq[String], b: Int = 12)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.operators.Stats.writeCardinalityShards(
          batch, s"$path/batch=$id", cols, shardCols, b)
      }
      .start()

  /** Growing vector store: an embedding stream appends into a
    * persisted IVF index under its FIXED centroids
    * (`Similarity.appendIvfIndex` per micro-batch — already-indexed
    * ids drop, so replays are no-ops; probes pick new vectors up
    * through the same partition-pruned reads). Retraining centroids
    * is a deliberate rebuild, never in-stream drift. */
  def appendIvfIndexStream(vectors: DataFrame, indexPath: String,
                           centroids: Seq[Seq[Double]],
                           checkpoint: String,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Similarity.appendIvfIndex(batch, indexPath,
          centroids, idCol, vecCol)
      }
      .start()

  /** Streaming ingest into the persisted LSH signature store: each
    * micro-batch of ACCEPTED documents appends its signatures
    * (`Dedup.appendBandSignaturesIdempotent` — replays and the
    * mid-append crash window both converge duplicate-free), so
    * `dedupAgainstStoreStream` / `minHashLshPairsAgainstStore`
    * probes see the corpus grow batch by batch. Gate FIRST, append
    * survivors: the standard ingest loop is probe → drop near-dups →
    * this sink. */
  def appendSignaturesStream(docs: DataFrame, path: String,
                             checkpoint: String,
                             idCol: String = "doc_id",
                             textCol: String = "text")
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Dedup.appendBandSignaturesIdempotent(
          batch, idCol, textCol, path)
      }
      .start()

  /** Incremental quantiles from a stream — the [[profileShardsStream]]
    * pattern over the mergeable GK summary: each micro-batch persists
    * one quantile shard under `path/batch=<id>` (overwritten on
    * replay — idempotent), and `Stats.quantilesFromShards` over
    * `path` answers percentile queries at any moment without
    * rescanning ingested data. ε = 0 is the exact mergeable regime;
    * ε > 0 bounds shard size at O((1/ε)·log εn). */
  def quantileShardsStream(docs: DataFrame, path: String,
                           checkpoint: String, valueCol: String,
                           shardCols: Seq[String], eps: Double = 0.0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.operators.Stats.writeQuantileShards(
          batch, s"$path/batch=$id", valueCol, shardCols, eps)
      }
      .start()

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

  /** One quarantined micro-batch of a streaming contract gate (the
    * unified gated runner, [[graft.operators.Pipeline.startGatedUnified]]):
    * overwrite `dir`/batch=<id> — keyed by the micro-batch id, the
    * canonical exactly-once `foreachBatch` sink pattern (a REPLAYED
    * batch rewrites its own table instead of double-appending).
    * Reading `dir` as parquet yields every quarantined row with the
    * batch id as a partition column. */
  def writeQuarantineBatch(batch: DataFrame, dir: String,
                           id: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$dir/batch=$id")

  /** The empty-gate side of [[writeQuarantineBatch]]: a gate that
    * quarantined nothing in micro-batch `id` writes no table (no job,
    * no empty file per gate per trigger); a table an earlier attempt
    * of the same batch id left there is deleted, so the batch's
    * quarantine state is still this attempt's, as an overwrite
    * would leave it. */
  def clearQuarantineBatch(spark: org.apache.spark.sql.SparkSession,
                           dir: String, id: Long): Unit = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/batch=$id")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path)) fs.delete(path, true)
    ()
  }

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
