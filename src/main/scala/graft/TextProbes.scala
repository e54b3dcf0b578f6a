package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Probe.Def
import graft.operators._

/** Scale probes of the similarity, dedup, crawl and language-model
  * operators, run through [[Probe]]. */
object TextProbes {
  /** The similarity operators (BASELINE.md "Similarity scale behavior")
    * over [[Probe.Run.shiftedEmbeddings]], at threshold 0.8:
    *   - `lsh`: lshNearDupPairs with distinct candidate pairs, found
    *     pairs and recall vs the planted count. `numPlanes` grows with
    *     log₂(n) so expected bucket occupancy stays O(1) — the knob that
    *     keeps candidates ∝ true pairs instead of ∝ n²/2^planes;
    *   - `ivf_build`, `ivf_probe` (nlist ~ √n, nprobe 4, 10 queries, with
    *     the rows the pruned scan reads) vs `brute`, bruteForceTopK as
    *     the linear-scan contrast;
    *   - `pq_build`, `pq_probe`: IVF-PQ, raw-encoded headline form — the
    *     same coarse layout, but the persisted payload is m = 8 small
    *     ints per vector instead of 64 floats, with on-disk bytes per
    *     vector; `pqr_*` quantize v − µ_cell instead (residual mode, the
    *     accuracy-per-byte form) at the same layout and byte budget. */
  val similarity = Def("similarity", Seq("1", "5", "20", "50")) { r =>
    val corpus = r.shiftedEmbeddings(r.n).localCheckpoint(true)
    val n = corpus.count()
    val planted = n - r.n * r.table("embeddings").count()
    // occupancy-preserving banding: 2^planes buckets ∝ n
    val planes =
      math.max(8, (math.log(n.toDouble / 8) / math.log(2)).ceil.toInt)
    val tables = 16
    // distinct colliding pairs — counted through the operator's OWN
    // candidate pipeline (same planes, same seed), so the number can't
    // drift from what lshNearDupPairs actually verifies
    val cands = Similarity.lshCandidates(
        corpus.select(col("vec_id").as("id"), col("e").as("vec")),
        Similarity.hyperplanes(tables * planes, 64, 42L), planes, tables)
      .count()
    r.timed("lsh")(Similarity.lshNearDupPairs(corpus, "vec_id", "e",
        threshold = 0.8, numPlanes = planes, tables = tables).count()) {
      pairs => Seq("vectors" -> n, "planes" -> planes, "candidates" -> cands,
        "pairs" -> pairs, "planted" -> planted,
        "recall" -> pairs.toDouble / planted)
    }
    val queries = corpus.filter(col("vec_id") < 10)
    val nlist = math.max(16,
      math.pow(2, (math.log(math.sqrt(n.toDouble)) / math.log(2)).round.toInt)
        .toInt)
    val ivf = r.dir("ivf")
    val centroids = r.timed("ivf_build")(Similarity.buildIvfIndex(corpus,
      "vec_id", "e", ivf, nlist = nlist, lloydIters = 1))(
      _ => Seq("nlist" -> nlist))
    // rows the pruned scan actually reads: the query batch's probed
    // cells, counted off the persisted index
    val probed = Similarity.probeCells(queries, "vec_id", "e", centroids, 4)
      .select("cell").distinct().collect().map(_.getInt(0))
    val scanned = r.spark.read.parquet(ivf)
      .filter(col("cell").isin(probed.toIndexedSeq: _*)).count()
    r.timed("ivf_probe")(Similarity.ivfTopKIndexed(ivf, centroids, queries,
        "vec_id", "e", k = 5, nprobe = 4).count()) {
      _ => Seq("scanned" -> scanned, "scanned_frac" -> scanned.toDouble / n)
    }
    r.timed("brute")(Similarity.bruteForceTopK(corpus, queries, "vec_id",
      "e", 5).count())(_ => Nil)
    Seq("pq" -> false, "pqr" -> true).foreach { case (tag, resid) =>
      val path = r.dir(tag)
      val (cents, books) = r.timed(s"${tag}_build")(Similarity.buildIvfPqIndex(
          corpus, "vec_id", "e", path, nlist = nlist, m = 8, ksub = 16,
          lloydIters = 1, pqLloydIters = 0, residuals = resid)) {
        _ => Seq("bytes_per_vec" -> r.dirBytes(path).toDouble / n,
          "float_bytes_per_vec" -> r.dirBytes(ivf).toDouble / n)
      }
      r.timed(s"${tag}_probe")(Similarity.ivfTopKIndexedPq(path, cents, books,
        queries, "vec_id", "e", k = 5, nprobe = 4, residuals = resid).count())(
        _ => Nil)
    }
  }

  /** The curation dedup operators (BASELINE.md "Passage dedup /
    * SemDeDup", "Token-span substring dedup", "Exact tf-idf cosine
    * APSS", "Persisted LSH signature store") over
    * [[Probe.Run.suffixedDocs]] and [[Probe.Run.shiftedEmbeddings]]. */
  val curation = Def("curation", Seq("1", "4", "16")) { r =>
    val dc = r.suffixedDocs(r.n).localCheckpoint(true)
    val nd = dc.count()
    def dropped(df: DataFrame): Long =
      df.agg(sum(col("n_dropped"))).first().getLong(0)
    // passage dedup is two keyed shuffles; boilerplate shares its
    // chunking and shuffle structure. Chunks never collide across
    // replicas, so each replica's df distribution is identical and a
    // fixed threshold keeps dropped volume exactly ∝ R
    r.timed("passages")(dropped(Dedup.dedupPassages(dc, "doc_id", "text", 10)))(
      d => Seq("docs" -> nd, "dropped" -> d))
    r.timed("boilerplate")(dropped(Dedup.removeBoilerplate(dc, "doc_id",
      "text", 10, 3)))(d => Seq("dropped" -> d))
    // token-granularity substring dedup: the same two-keyed-shuffle
    // family over the stride-1 shingle index (~k× the corpus through the
    // first shuffle) — time ~linear in R, dropped volume exactly ∝ R
    r.timed("spans")(dropped(Dedup.dedupTokenSpans(dc, "doc_id", "text", 10)))(
      d => Seq("dropped" -> d))
    // winnow overlap pairs WITH the boilerplate cap engaged (the
    // q_text_overlap parameterization): posting lists are bounded by
    // maxDf, so pair volume is ∝ R at ~linear time — the sub-quadratic
    // contract the cap guarantees
    r.timed("winnow")(TextAnalysis.winnowOverlapPairs(dc, "doc_id", "text",
      3, 4, 2, maxDf = 100).count())(p => Seq("pairs" -> p))
    // exact directed containment: the asymmetric prefix filter indexes
    // only each contained-side document's rare prefix, so posting lists
    // stay short and pair volume ∝ R
    r.timed("containment")(Dedup.containmentPairs(dc, "doc_id", "text",
      3, 0.6).count())(p => Seq("pairs" -> p))
    // exact tf-idf cosine APSS in shingle space (the q_dedup_cosine
    // parameterization): prefix postings — and the prefix × prefix
    // candidate join — stay intra-replica, so pairs are exactly ∝ R
    r.timed("cosine")(Dedup.tfidfCosinePairs(dc, "doc_id", "text", 0.7,
      n = 3).count())(p => Seq("pairs" -> p))
    // persisted LSH signature store: write cost scales with the corpus
    // (one-time), but PROBE cost for a fixed batch must stay ~flat as
    // the stored corpus grows — that is the operator's whole point. The
    // batch is 1/5 of replica 0 under fresh ids; its text matches the
    // stored replica 0 exactly and can never collide with the others,
    // so true pair volume is ∝ batch at every scale.
    val store = r.dir("sigstore")
    r.timed("store_write")(Dedup.writeBandSignatures(dc, "doc_id", "text",
      store))(_ => Nil)
    val batch = r.suffixedDocs(1).filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 900000000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    r.timed("store_probe")(Dedup.minHashLshPairsAgainstStore(batch, store,
      "doc_id", "text", 0.5).count())(p => Seq("pairs" -> p))
    // semDedup with nlist ∝ n: constant expected cell size (~64) keeps
    // the within-cell pairwise sweep ∝ n·|cell|, the SemDeDup contract
    val ec = r.shiftedEmbeddings(r.n).localCheckpoint(true)
    val ne = ec.count()
    val planted = ne - r.n * r.table("embeddings").count()
    val nlist = math.max(8, (ne / 64).toInt)
    r.timed("semdedup")(Similarity.semDedup(ec, "vec_id", "e", 0.8, nlist,
        1).count()) {
      kept => Seq("vectors" -> ne, "nlist" -> nlist, "swept" -> (ne - kept),
        "planted" -> planted)
    }
  }

  /** The documents in the deterministic q_text_extract page, so the HTML
    * operators see real markup density. */
  private def page(c: DataFrame): DataFrame = c.select(col("doc_id"),
    concat(
      lit("<html><head><script>var x = 1 < 2;</script>" +
        "<style>.n a{color:#00c}</style></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a>" +
        "</nav><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><p>"), col("text"),
      lit("</p><p>This page is the &quot;fast&nbsp;&amp; loose&quot;" +
        " guide; it&#39;s about &lt;scale&gt;.</p>" +
        "<div class=\"footer\"><a href=\"/tos\">Terms of service</a>" +
        "</div></body></html>")).as("html"),
    concat(lit("https://www.ex"), (col("doc_id") % 97).cast("string"),
      lit(".example.co.uk/d/page.html")).as("base"))

  /** The crawl-pipeline operators (BASELINE.md "Crawl-operator scale
    * behavior"). The four scan-speed operators should show ~linear
    * wall; trainUnigram's corpus-scale word count is its only
    * corpus-sized stage, so it should flatten toward linear with a
    * constant vocab-round overhead. */
  val crawl = Def("crawl", Seq("1", "4", "21")) { r =>
    val c = r.suffixedDocs(r.n, "source").localCheckpoint(true)
    val p = page(c).localCheckpoint(true)
    r.noop("extract_text", "rows" -> c.count())(HtmlExtract.extractText(p,
      minChars = 25, maxLinkDensity = 0.33, minStopFrac = 0.01))
    r.noop("extract_links")(HtmlExtract.extractLinks(p,
      baseUrlCol = Some("base")))
    r.noop("normalize_text")(Normalize.normalizeText(c))
    r.noop("canonicalize_urls")(UrlOps.canonicalizeUrls(
      p.select(col("doc_id"), col("base").as("url"))))
    r.noop("train_unigram")(TextAnalysis.trainUnigram(c, seedTopN = 60,
      maxPieceLen = 4, keepN = 40, emRounds = 2, maxWordLen = 12))
  }

  /** The frontier and ingest operators (BASELINE.md "Frontier-operator
    * scale behavior"): splitSentences, readabilityScores, parseSitemaps
    * and parseWarc are zero-shuffle projections (~linear wall);
    * Frontier.schedule keeps OUTPUT constant under the per-host cap
    * (map-side WindowGroupLimit), so wall tracks the scan; the graph
    * pair replicates the lineitem supplier→part edges with disjoint
    * per-replica node ids and should scale like pageRank — linear in
    * edges per iteration. */
  val frontier = Def("frontier", Seq("1", "4", "21")) { r =>
    val c = r.suffixedDocs(r.n, "source").localCheckpoint(true)
    r.noop("split_sentences", "rows" -> c.count())(Sentences.splitSentences(c))
    r.noop("readability")(Sentences.readabilityScores(c))
    val sm = c.select(concat(col("source"), lit(".ex.com")).as("host"),
      concat(lit("<urlset><url><loc>https://h/p/"),
        col("doc_id").cast("string"),
        lit("?a=1&amp;b=2</loc><lastmod>2026-01-01</lastmod>" +
          "<priority>0.8</priority></url><url><loc>https://h/q/"),
        col("doc_id").cast("string"),
        lit("</loc></url></urlset>")).as("xml"))
      .localCheckpoint(true)
    r.noop("parse_sitemaps")(Sitemaps.parseSitemaps(sm))
    val warc = c.select(col("doc_id"),
      concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: https://h/p\r\nContent-Length: "),
        octet_length(col("text")).cast("string"),
        lit("\r\n\r\n"), col("text")).as("blob"))
      .localCheckpoint(true)
    r.noop("parse_warc")(graft.sources.Warc.parseWarc(warc))
    val urls = c.select(concat(col("source"), lit(".ex.com")).as("host"),
      concat(lit("https://h/p/"), col("doc_id").cast("string")).as("url"),
      (col("doc_id") % 10).cast("double").as("priority"))
      .localCheckpoint(true)
    r.noop("frontier_schedule")(Frontier.schedule(urls,
      priorityCol = Some("priority"), maxPerHost = 1000))
    val li = r.table("lineitem")
    val e = r.replicas(r.n)(k => li.select(
        (col("l_suppkey") + k * 1000000L).as("src"),
        (col("l_partkey") + 10000000L + k * 1000000L).as("dst")))
      .localCheckpoint(true)
    r.noop("personalized_pagerank", "edges" -> e.count())(
      Graph.personalizedPageRank(e,
        e.select(col("src").as("node")).filter(col("node") % 17 === 0),
        "src", "dst", iters = 3))
    r.noop("adamic_adar")(Graph.adamicAdar(e, "src", "dst", topN = 20,
      maxDegree = 64))
    // replica-suffixed words make each replica's shingles disjoint, so
    // the source-pair matrix work grows with the corpus while the source
    // count stays fixed — the realistic axis
    r.noop("source_overlap")(Dedup.sourceOverlapMatrix(
      c.withColumn("source",
        concat(lit("s"), (col("doc_id") % 20).cast("string"))),
      n = 3, maxGroups = 10))
  }

  /** The order-n Kneser-Ney stack at orders 3 and 5 (BASELINE.md
    * "Order-n LM scale behavior"). Disjoint per-replica vocabularies
    * make the model grow with the corpus — the worst-case regime;
    * natural corpora share vocabulary and re-use model rows. Claims:
    * trainNgrams' one-shuffle wall is ~linear in corpus tokens, scoring
    * wall ~linear in scored grams, and the per-order statistic
    * derivations add no super-linear term. */
  val lm = Def("lm", Seq("1", "4", "21")) { r =>
    val c = r.suffixedDocs(r.n).localCheckpoint(true)
    val held = c.filter(col("doc_id") % 10 === 0)
    Seq(3, 5).foreach { order =>
      val model = r.timed(s"train$order")(LanguageModel.trainNgrams(c,
        "doc_id", "text", maxN = order).localCheckpoint(true)) {
        m => Seq("docs" -> c.count(), "model_rows" -> m.count())
      }
      r.timed(s"score$order")(LanguageModel.scoreByKneserNeyN(held, model,
        "doc_id", "text", order = order).count())(n => Seq("scored_docs" -> n))
    }
  }

  val all: Seq[Def] = Seq(similarity, curation, crawl, frontier, lm)
}
