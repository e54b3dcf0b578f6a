package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Events, ModelStore, Multimodal, Pipeline, Stats,
  TextAnalysis, TextClassify}
import graft.operators.Pipeline.{BatchOnly, BatchSensitive, Step}

/** One streaming contract per registry entry, pinned: every entry whose
  * `OpSpec.streaming` is not `BatchOnly` has a row in [[table]], and the
  * row runs the entry (followed by the row's `after` steps, if any) on
  * a `MemoryStream` fed in at least two chunks through
  * `Pipeline.fromStepsStreaming`, comparing the sink's row
  * multiset with `Pipeline.fromSteps` on the same input. An entry that
  * emits when the watermark closes a window or a key is compared after
  * closing events that advance the watermark past every one of them. */
class StreamParitySpec extends AnyFunSuite {
  import SparkTestSession._
  import StreamParitySpec.{Parity, multiset}

  private val dir = java.nio.file.Files
    .createTempDirectory("graft-stream-parity").toString
  private val bpePath = s"$dir/bpe"
  private val logisticPath = s"$dir/logistic"
  private val piecesPath = s"$dir/pieces"
  private val unigramPath = s"$dir/unigram"
  private val dimPath = s"$dir/dim"
  private val parentPath = s"$dir/parent"
  private val dictPath = s"$dir/dict"
  private val klRefPath = s"$dir/kl_ref"

  /** The stored models and static tables the rows name by path. */
  private lazy val fixtures: Unit = {
    val s = spark
    import s.implicits._
    val train = docs()
    ModelStore.writeBpeModel(
      TextAnalysis.trainBpe(train, "text", numMerges = 8), bpePath)
    ModelStore.writeLogisticModel(
      TextClassify.trainLogisticHashed(
        train.withColumn("is_en", col("lang") === "en"),
        "doc_id", "text", "is_en", dim = 8, iters = 2), logisticPath)
    ModelStore.writePiecesModel(
      TextAnalysis.trainPieces(train, "text", topN = 40,
        maxPieceLen = 4), piecesPath, maxPieceLen = 4)
    ModelStore.writeUnigramModel(
      TextAnalysis.trainUnigram(train, "text", seedTopN = 40,
        maxPieceLen = 4, keepN = 30, emRounds = 1, maxWordLen = 8),
      unigramPath, maxPieceLen = 4)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "label")
      .write.parquet(dimPath)
    Seq(10L, 20L, 30L).toDF("pk").write.parquet(parentPath)
    Seq((10L, "red gear"), (11L, "blue gear"), (12L, "red widget"))
      .toDF("dict_id", "dict_str").write.parquet(dictPath)
    Seq("en", "en", "en", "de", "fr").toDF("category")
      .write.parquet(klRefPath)
  }

  private def ts(t: String) = Timestamp.valueOf(t)

  // ---- inputs ----

  // The inputs are generated here, so the table does not depend on
  // the regenerated test tables.

  private val sentences = Seq(
    "The quick brown fox jumps over the lazy dog.",
    "Spark runs the same plan on a stream and on a table.",
    "Contact us at team@example.com or call 555-123-4567 today.",
    "def main(args): return [x * 2 for x in args]",
    "the the the the the the the the",
    "Prices rose 3.5% in Q2, while the volume of trade fell.",
    "Caf\u00e9 cr\u00e8me and na\u00efve r\u00e9sum\u00e9 words.",
    "Short line",
    "This is a longer sentence that keeps going with many of the " +
      "common words in it and then some more of them.",
    "And it is not what we think it is, because of the way it is.")

  /** 24 documents of three to seven sentences, with an event time. */
  private def docs(): DataFrame = frame(
    "doc_id BIGINT, lang STRING, source STRING, text STRING, ts TIMESTAMP",
    (0 until 24).map { i =>
      val text = (0 until 3 + i % 5)
        .map(k => sentences((i * 7 + k * 3) % sentences.size))
        .mkString(if (i % 3 == 0) "\n" else " ")
      Row(i.toLong, if (i % 4 == 0) "de" else "en",
        if (i % 2 == 0) "web" else "books", text,
        new Timestamp(ts("2024-01-01 00:00:00").getTime +
          i * 17 % 89 * 60000L))
    }: _*)()

  private val eventTypes = Seq("view", "click", "purchase", "signup", "error")

  /** Four users' events: 24 each over a day, in no time order. */
  private def events(): DataFrame = frame(
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
      "value DOUBLE",
    (for (u <- 0 until 4; k <- 0 until 24) yield {
      val id = u * 100L + k
      Row(id, new Timestamp(ts("2024-01-01 00:00:00").getTime +
          (k * 53 % 1440 + u * 7) * 60000L), u.toLong,
        eventTypes((u + k * k) % eventTypes.size), id * 7919 % 1000 / 10.0)
    }): _*)()

  private def frame(schema: String, rows: Row*): () => DataFrame =
    () => spark.createDataFrame(rows.asJava, StructType.fromDDL(schema))

  /** Two events far past the data: the first moves the watermark past
    * every window, the second fires the timers it leaves pending. */
  private val closers = Seq(
    Row(999998L, ts("2099-01-01 00:00:00"), 999999L, "view", 0.0),
    Row(999999L, ts("2099-01-02 00:00:00"), 999999L, "view", 0.0))

  private val farWatermark = "3650 days"

  private val dataOnly = "user_id < 999999"

  private val dataWindows = "window_start < timestamp '2090-01-01 00:00:00'"

  // ---- the table ----

  private val docOps = Seq(
    Parity("filter", Map("condition" -> "length(text) > 200"), docs,
      "doc_id % 2 = 0"),
    Parity("with_column",
      Map("name" -> "n2", "expr" -> "length(text) * 2"), docs,
      "doc_id % 2 = 0"),
    Parity("select", Map("cols" -> Seq("doc_id", "lang")), docs,
      "doc_id % 2 = 0"),
    Parity("token_count", Map(), docs, "doc_id % 2 = 0"),
    Parity("dup_ngram_fraction", Map("n" -> 2L), docs, "doc_id % 2 = 0"),
    Parity("normalize_text", Map("passthrough_cols" -> Seq("ts")), docs,
      "doc_id % 2 = 0"),
    Parity("c4_clean", Map("min_sentences" -> 1L), docs, "doc_id % 2 = 0"),
    Parity("scrub_pii", Map(), docs, "doc_id % 2 = 0"),
    Parity("gopher_quality_flags",
      Map("min_stopwords" -> 1L, "passthrough_cols" -> Seq("ts")), docs,
      "doc_id % 2 = 0"),
    Parity("chunk_by_tokens", Map("max_tokens" -> 16L, "overlap" -> 4L),
      docs, "doc_id % 2 = 0"),
    // row-local hash filters
    Parity("sample_fraction",
      Map("fraction" -> 0.5, "key_cols" -> Seq("doc_id")), docs,
      "doc_id % 2 = 0"),
    Parity("weighted_sample",
      Map("weight" -> "length(text) / 1000.0",
        "key_cols" -> Seq("doc_id")), docs, "doc_id % 2 = 0"),
    Parity("lang_id", Map(), docs, "doc_id % 2 = 0"),
    Parity("quality_score", Map(), docs, "doc_id % 2 = 0"),
    Parity("fingerprint", Map(), docs, "doc_id % 2 = 0"),
    Parity("split_by_hash",
      Map("weights" -> Seq(Seq("a", 1L), Seq("b", 2L)),
        "key_cols" -> Seq("doc_id")), docs, "doc_id % 2 = 0"),
    Parity("bpe_tokenize_stored", Map("model_path" -> bpePath), docs,
      "doc_id % 2 = 0"),
    Parity("score_logistic_stored", Map("model_path" -> logisticPath),
      docs, "doc_id % 2 = 0"),
    Parity("pieces_tokenize_stored", Map("model_path" -> piecesPath),
      docs, "doc_id % 2 = 0"),
    Parity("unigram_tokenize_stored", Map("model_path" -> unigramPath),
      docs, "doc_id % 2 = 0"),
    Parity("code_line_stats", Map(), docs, "doc_id % 2 = 0"),
    Parity("split_sentences", Map("passthrough_cols" -> Seq("ts")), docs,
      "doc_id % 2 = 0"),
    Parity("readability_scores", Map(), docs, "doc_id % 2 = 0"),
    Parity("gopher_repetition_flags", Map(), docs, "doc_id % 2 = 0"),
    Parity("compression_ratio", Map(), docs, "doc_id % 2 = 0"),
    Parity("apply_functions", Map("fields" -> Seq(Seq("lang", "upper"))),
      docs, "doc_id % 2 = 0"),
    Parity("expect_columns",
      Map("schema" -> "doc_id BIGINT, text STRING"), docs,
      "doc_id % 2 = 0"),
    Parity("expect_condition",
      Map("condition" -> "doc_id >= 0", "name" -> "ids"), docs,
      "doc_id % 2 = 0"),
    Parity("conform_schema",
      Map("schema" -> "doc_id BIGINT, text STRING, n INT"), docs,
      "doc_id % 2 = 0"),
    Parity("as_assets", Map("mime" -> "text/plain"), docs,
      "doc_id % 2 = 0"),
    Parity("decode_features", Map(),
      () => Multimodal.asAssets(docs(), "doc_id", "text", "text/plain",
        "source"), "id % 2 = 0"))

  private val crawlOps = {
    val page =
      "<html><body><nav><a href=\"/\">Home</a> <a href=\"/a\">About " +
        "this site</a></nav><p>This is the main paragraph of the page " +
        "and it is long enough to keep.</p><a href=\"x/y?q=1\">more</a>" +
        "</body></html>"
    val html = frame("doc_id BIGINT, html STRING, base_url STRING",
      Row(1L, page, "https://h.example.com/d/"),
      Row(2L, "<p>short</p>", "https://h.example.com/"),
      Row(3L, page.replace("main", "other"), "https://g.example.org/"),
      Row(4L, "", null))
    def warc(payload: String): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: https://h/p\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n$payload")
        .getBytes("ISO-8859-1")
    val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
      "charset=utf-8\r\n\r\n<p>cafÃ©</p>"
    Seq(
      Parity("extract_text", Map(), html, "doc_id % 2 = 0"),
      Parity("extract_links", Map("base_url_col" -> "base_url"), html,
        "doc_id % 2 = 0"),
      Parity("canonicalize_urls", Map(),
        frame("doc_id BIGINT, url STRING",
          Row(1L, "HTTPS://WWW.Example.COM:443/a/?b=2&a=1&utm_x=1#f"),
          Row(2L, "nope"), Row(3L, "http://h.example.org/x/../y"),
          Row(4L, "https://sub.example.co.uk/")), "doc_id % 2 = 0"),
      Parity("parse_warc_records", Map(),
        frame("path STRING, rec_id INT, __rec BINARY",
          Row("a.warc.gz", 0, warc(http)), Row("a.warc.gz", 1, warc("x")),
          Row("b.warc.gz", 0, warc("hello"))), "path = 'a.warc.gz'"),
      Parity("http_responses", Map(),
        frame("doc_id BIGINT, payload BINARY",
          Row(1L, http.getBytes("ISO-8859-1")),
          Row(2L, "not http".getBytes("ISO-8859-1")),
          Row(3L, "HTTP/1.1 404 Not Found\r\n\r\n".getBytes("ISO-8859-1"))),
        "doc_id % 2 = 0"))
  }

  // stream-STATIC enrichment: the loaded side is a batch table
  private val joinOps = {
    val facts = frame("k BIGINT, v DOUBLE", Row(1L, 0.5), Row(2L, 1.5),
      Row(3L, 2.5), Row(9L, 9.9), Row(1L, 3.5))
    val children = frame("id BIGINT, fk BIGINT", Row(1L, 10L),
      Row(2L, 99L), Row(3L, null), Row(4L, 20L), Row(5L, 77L))
    val names = frame("id BIGINT, s STRING", Row(1L, "red gear"),
      Row(2L, "bed gear"), Row(3L, "red gadget"), Row(4L, "rad widget"))
    Seq(
      Parity("join_table", Map("path" -> dimPath, "on" -> Seq("k")),
        facts, "v < 3"),
      // referential quarantine: rows whose key has no parent row, NULL
      // keys included (nothing matches null, so a left-anti join keeps
      // them), pass through unchanged with a relationship tag
      Parity("join_table", Map("path" -> parentPath,
          "condition" -> "l.fk = r.pk", "how" -> "left_anti"),
        children, "id <= 3", label = "left_anti: referential quarantine",
        after = Seq(Step("with_column",
          Map("name" -> "relationship", "expr" -> "'c->p'"))),
        check = { got =>
          // healthy rows 1/4 dropped; orphans 2/5 and null-key 3
          // quarantined, payload intact, relationship tagged
          assert(multiset(got) == multiset(Seq(Row(2L, 99L, "c->p"),
            Row(3L, null, "c->p"), Row(5L, 77L, "c->p"))))
          // the batch audit's row accounting agrees: orphan rows + null
          // rows == quarantined rows
          val audit = Stats.referentialOrphans(children(),
            spark.read.parquet(parentPath), "fk", "pk", "c->p").head()
          assert(audit.getLong(2) + audit.getLong(3) == got.count())
        }),
      // dictionary entity resolution: blocked on the last word, every
      // entry within edit distance 2; unmatched names pass through with
      // a null match
      Parity("join_table", Map("path" -> dictPath, "how" -> "left",
          "condition" -> ("element_at(split(l.s, ' '), -1) = " +
            "element_at(split(r.dict_str, ' '), -1) AND " +
            "abs(length(l.s) - length(r.dict_str)) <= 2 AND " +
            "levenshtein(l.s, r.dict_str, 2) >= 0")),
        names, "id % 2 = 0", label = "left: blocked levenshtein match",
        after = Seq(
          Step("with_column",
            Map("name" -> "dist", "expr" -> "levenshtein(s, dict_str, 2)")),
          Step("select",
            Map("cols" -> Seq("id", "s", "dict_id", "dict_str", "dist")))),
        // exact → 0 (blue gear, d=3, is out of budget); typos → 1;
        // red gadget's block has no entry → unmatched
        check = got => assert(multiset(got) == multiset(Seq(
          Row(1L, "red gear", 10L, "red gear", 0),
          Row(2L, "bed gear", 10L, "red gear", 1),
          Row(3L, "red gadget", null, null, null),
          Row(4L, "rad widget", 12L, "red widget", 1))))),
      Parity("bloom_join",
        Map("path" -> dimPath, "fact_key" -> "k", "dim_key" -> "k2",
          "right_renames" -> Seq(Seq("k", "k2"), Seq("label", "label2"))),
        facts, "v < 3"),
      Parity("salted_join",
        Map("path" -> dimPath, "on" -> Seq("k"), "salt_factor" -> 3L),
        facts, "v < 3"))
  }

  // stateful entries that carry their own watermark in the config
  private val statefulOps = {
    val ev = events _
    val byUser = "user_id % 2 = 0"
    def closed(p: Parity) =
      p.copy(sensitive = true, closing = closers, keep = dataOnly)
    val trendDocs = frame("doc_id BIGINT, text STRING, ts TIMESTAMP",
      Row(1L, "alpha alpha beta", ts("2024-01-01 00:05:00")),
      Row(2L, "alpha gamma beta", ts("2024-01-01 00:40:00")),
      Row(3L, "burst burst burst alpha", ts("2024-01-01 01:10:00")),
      Row(4L, "burst delta", ts("2024-01-01 01:50:00")))
    val links = frame(
      "doc_id BIGINT, src_url STRING, href_abs STRING, ts TIMESTAMP",
      Row(1L, "https://site1.example.com/p1",
        "https://Dst1.example.org:443/x#frag", ts("2024-01-01 00:05:00")),
      Row(2L, "https://site1.example.com/p2",
        "https://dst1.example.org/y", ts("2024-01-01 00:40:00")),
      Row(2L, "https://site1.example.com/p2",
        "https://dst2.example.org/", ts("2024-01-01 00:45:00")),
      Row(9L, "notaurl", "https://d.example.org/", ts("2024-01-01 00:50:00")),
      Row(3L, "https://site2.example.com/p3",
        "https://dst1.example.org/", ts("2024-01-01 01:10:00")))
    val drift = frame("ts TIMESTAMP, category STRING",
      Seq("00:05" -> "en", "00:20" -> "de", "00:50" -> "en",
        "00:10" -> "fr", "01:30" -> "de", "01:05" -> "de", "01:55" -> "zz")
        .map { case (t, c) => Row(ts(s"2024-01-01 $t:00"), c) }: _*)
    Seq(
      Parity("windowed_stats_watermarked",
        Map("watermark_delay" -> farWatermark), ev, "event_id % 2 = 0",
        sensitive = true, closing = closers,
        keep = dataWindows),
      Parity("windowed_quantiles_watermarked",
        Map("watermark_delay" -> farWatermark, "qs" -> Seq(0.5, 0.99),
          "window_length" -> "6 hours", "group_cols" -> Seq("event_type")),
        ev, "event_id % 2 = 0", sensitive = true, closing = closers,
        keep = dataWindows),
      Parity("trending_tokens_watermarked",
        Map("watermark_delay" -> farWatermark, "window_seconds" -> 3600L,
          "top_k" -> 3L), trendDocs, "doc_id % 2 = 0", sensitive = true,
        closing = closers.map(c => Row(8L, "x", c.get(1))),
        keep = dataWindows,
        // exact regime (capacity above the vocabulary): each window's
        // top 3 by (count desc, token asc)
        batch = Some(df => df
          .select(window(col("ts"), "1 hour")("start").as("window_start"),
            explode(split(col("text"), " ")).as("token"))
          .groupBy("window_start", "token").agg(count(lit(1)).as("cnt"))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("window_start")
              .orderBy(desc("cnt"), asc("token"))))
          .filter(col("rank") <= 3))),
      Parity("host_graph_windowed",
        Map("watermark_delay" -> farWatermark, "src_col" -> "src_url",
          "dst_url_col" -> "href_abs"), links, "doc_id % 2 = 0",
        sensitive = true,
        closing = closers.map(c => Row(8L, "https://a.example.com/",
          "https://b.example.com/", c.get(1))),
        keep = dataWindows),
      closed(Parity("sessionize_watermarked",
        Map("watermark_delay" -> farWatermark, "gap_seconds" -> 1800L), ev,
        byUser, batch = Some(Pipeline.fromSteps(Seq(
          Step("sessionize", Map("gap_seconds" -> 1800L))))))),
      Parity("kl_drift_watermarked",
        Map("watermark_delay" -> farWatermark, "reference_path" -> klRefPath,
          "window_seconds" -> 3600L), drift, "category <> 'de'",
        sensitive = true,
        closing = closers.map(c => Row(c.get(1), "en")),
        keep = dataWindows,
        // the batch KL of each window's categories against the reference
        batch = Some { df =>
          val w = df.withColumn("window_start",
            window(col("ts"), "1 hour")("start"))
          w.select("window_start").distinct().collect().map(_.get(0))
            .map { ws =>
              Stats.klDivergence(w.filter(col("window_start") === lit(ws)),
                  spark.read.parquet(klRefPath), "category")
                .select(lit(ws).as("window_start"), col("n_a").as("n_events"),
                  col("n_categories"), col("kl_div"))
            }.reduce(_ union _)
        }),
      closed(Parity("scd2_watermarked",
        Map("watermark_delay" -> farWatermark, "key_col" -> "user_id",
          "attr_col" -> "event_type"), ev, byUser,
        // the batch twin's closed intervals (streams never emit the open
        // tail row: it is not final)
        batch = Some(df => Events.scd2(df, "user_id", "event_type")
          .filter(col("valid_to").isNotNull)
          .withColumnRenamed("key", "user_id")))),
      closed(Parity("funnel_watermarked",
        Map("watermark_delay" -> farWatermark,
          "steps" -> Seq("view", "click", "purchase"),
          "window_seconds" -> 3600L), ev, byUser,
        batch = Some(df => Events.funnel(df,
            Seq("view", "click", "purchase"), 3600L)
          .withColumn("n_steps", col("n_steps").cast("int"))))),
      closed(Parity("gap_fill_watermarked",
        Map("watermark_delay" -> farWatermark, "period_seconds" -> 21600L),
        ev, byUser, batch = Some(Events.gapFill(_, 21600L)))),
      closed(Parity("rolling_anomalies_watermarked",
        Map("watermark_delay" -> farWatermark, "n_prior" -> 5L,
          "min_prior" -> 3L, "z_threshold" -> 1.5), ev, byUser,
        batch = Some(Events.rollingAnomalies(_, 5, 3, 1.5)))),
      // no idle retention: no timer, each micro-batch refreshes the
      // scores of the users it carries (update mode), and every user
      // arrives in one chunk
      Parity("decayed_activity_watermarked",
        Map("watermark_delay" -> farWatermark, "max_events" -> 4L), ev,
        byUser, sensitive = true, mode = "update",
        batch = Some(Events.decayedActivity(_, 4))),
      // the stream emits path instances, the batch twin their counts
      closed(Parity("top_paths_watermarked",
        Map("watermark_delay" -> farWatermark, "k" -> 3L), ev, byUser,
        batch = Some(Events.topPaths(_, 3, Int.MaxValue)),
        view = _.groupBy("path").agg(count(lit(1)).as("n_paths")))),
      closed(Parity("transition_pairs_watermarked",
        Map("watermark_delay" -> farWatermark), ev, byUser,
        batch = Some(Events.transitionMatrix(_)),
        view = _.groupBy("src_type", "dst_type")
          .agg(count(lit(1)).as("n_pairs")))),
      // the two sides' watermarks advance separately (the query's is
      // their minimum), so the closing events come as both sides
      closed(Parity("asof_join_watermarked",
        Map("watermark_delay" -> farWatermark,
          "left_condition" -> "event_type = 'purchase'",
          "right_condition" -> "event_type = 'click'"), ev, byUser,
        batch = Some(df => graft.operators.AsOfJoin.asOfJoin(
            df.filter("event_type = 'purchase'")
              .select("user_id", "event_id", "ts"),
            df.filter("event_type = 'click'")
              .select(col("user_id"), col("event_id").as("right_id"),
                col("ts")),
            "user_id", "ts", Seq("event_id"), Seq("right_id")))))
        .copy(closing = for {
          c <- closers; side <- Seq("purchase", "click")
        } yield Row(c.get(0), c.get(1), c.get(2), side, c.get(4))),
      closed(Parity("range_join_watermarked",
        Map("watermark_delay" -> farWatermark,
          "left_condition" -> "event_type = 'purchase'",
          "right_condition" -> "event_type = 'click'",
          "lower_seconds" -> 3600L, "upper_seconds" -> 0L), ev, byUser)),
      // Spark keeps the first arrival per key, batch dropDuplicates any
      // one row: compare the surviving keys
      Parity("drop_duplicates_watermarked",
        Map("keys" -> Seq("user_id", "event_type"),
          "watermark_delay" -> farWatermark), ev, byUser, sensitive = true,
        view = _.select("user_id", "event_type")),
      // every user arrives in one chunk, so arrival order within a key
      // is the (ts, event_id) order the batch face ranks by
      Parity("first_seen_flags_watermarked",
        Map("keys" -> Seq("user_id"), "watermark_delay" -> farWatermark,
          "order_cols" -> Seq("ts", "event_id")), ev, byUser,
        sensitive = true))
  }

  private val table: Seq[Parity] = docOps ++ crawlOps ++ joinOps ++
    statefulOps

  // ---- the checks ----

  table.zipWithIndex.foreach { case (p, i) =>
    test(s"stream == batch: ${p.title}") {
      fixtures
      val s = spark
      implicit val ctx = s.sqlContext
      val steps = Step(p.op, p.params) +: p.after
      val raw = p.input()
      val in = s.createDataFrame(raw.collect().toSeq.asJava, raw.schema)
      val chunks = Seq(in.filter(p.chunk), in.filter(not(expr(p.chunk))))
        .map(_.collect().toSeq)
      assert(chunks.forall(_.nonEmpty), s"${p.title}: a chunk is empty")
      implicit val enc: org.apache.spark.sql.Encoder[Row] =
        Encoders.row(in.schema)
      val source = MemoryStream[Row]
      val name = s"parity_$i"
      val q = Pipeline.fromStepsStreaming(steps)(source.toDF())
        .writeStream.format("memory").queryName(name)
        .outputMode(p.mode).start()
      try {
        (chunks ++ p.closing.map(Seq(_))).foreach { c =>
          source.addData(c)
          q.processAllAvailable()
        }
      } finally q.stop()
      val streamed = p.view(s.table(name).filter(p.keep))
      val batch = p.batch.getOrElse(Pipeline.fromSteps(steps))(in)
        .select(streamed.columns.map(col).toIndexedSeq: _*)
      val got = multiset(streamed)
      assert(got.nonEmpty, s"${p.title}: the stream emitted nothing")
      assert(got == multiset(batch), p.title)
      p.check(streamed)
    }
  }

  test("every streaming registry entry has a parity row") {
    val titles = table.map(_.title)
    assert(titles.distinct == titles, "duplicate parity rows")
    val missing = Pipeline.builtinOps.collect {
      case (op, spec) if spec.streaming != BatchOnly => op
    }.toSeq.filterNot(table.map(_.op).contains).sorted
    assert(missing.isEmpty,
      s"streaming registry entries without a parity row: " +
        s"${missing.mkString(", ")} — add a Parity row for each to " +
        "StreamParitySpec.table")
  }

  /** The sink a gated chain ends in: the unified runner's survivors. */
  private val survivorsSink = Step("write_stream_parquet",
    Map("path" -> s"$dir/out", "checkpoint" -> s"$dir/ck"))

  // compile-only: from the first quarantine gate on, steps re-apply per
  // micro-batch, so a batch-sensitive step there must be rejected by name
  table.filter(_.sensitive).foreach { p =>
    test(s"startGatedUnified rejects ${p.op} after a gate") {
      val gate = Step("expect_condition", Map("condition" -> "true",
        "name" -> "g", "quarantine_path" -> s"$dir/quarantine"))
      val e = intercept[IllegalArgumentException] {
        Pipeline.startStream(spark.emptyDataFrame,
          Seq(gate, Step(p.op, p.params), survivorsSink))
      }
      assert(e.getMessage.contains("batch-boundary-sensitive") &&
        e.getMessage.contains(p.op), e.getMessage)
    }
  }

  test("an extra op declared batch-sensitive is rejected after a gate; " +
       "before the gate it streams") {
    val counted = Pipeline.OpSpec(Set(), Set(),
      _ => df => df.groupBy("k").count(), BatchSensitive())
    val gate = Step("expect_condition", Map("condition" -> "true",
      "name" -> "g", "quarantine_path" -> s"$dir/quarantine"))
    val e = intercept[IllegalArgumentException] {
      Pipeline.startStream(spark.emptyDataFrame,
        Seq(gate, Step("per_key_counts"), survivorsSink),
        extra = Map("per_key_counts" -> counted))
    }
    assert(e.getMessage.contains("per_key_counts"))
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val f = Pipeline.fromStepsStreaming(Seq(Step("per_key_counts")),
      extra = Map("per_key_counts" -> counted))
    assert(f(MemoryStream[(Long, Long)].toDF().toDF("k", "v")).isStreaming)
  }

  // every param that holds SQL is checked for determinism on a stream
  // (StreamingSpec covers filter and with_column)
  private val sqlParams: Seq[(String, Map[String, Any], String)] = Seq(
    ("weighted_sample", Map("key_cols" -> Seq("k")), "weight"),
    ("expect_condition", Map(), "condition"),
    ("join_table", Map("path" -> dimPath), "condition"),
    ("asof_join_watermarked", Map("left_condition" -> "true",
      "right_condition" -> "true"), "left_condition"),
    ("asof_join_watermarked", Map("left_condition" -> "true",
      "right_condition" -> "true"), "right_condition"),
    ("range_join_watermarked", Map("left_condition" -> "true",
      "right_condition" -> "true", "lower_seconds" -> 0L,
      "upper_seconds" -> 0L), "left_condition"),
    ("range_join_watermarked", Map("left_condition" -> "true",
      "right_condition" -> "true", "lower_seconds" -> 0L,
      "upper_seconds" -> 0L), "right_condition"))

  sqlParams.foreach { case (op, params, sqlParam) =>
    test(s"rand() in $op.$sqlParam is rejected on a stream") {
      val e = intercept[IllegalArgumentException] {
        Pipeline.fromStepsStreaming(Seq(
          Step(op, params + (sqlParam -> "rand() < 0.5"))))
      }
      assert(e.getMessage.contains("non-deterministic") &&
        e.getMessage.contains("rand"), e.getMessage)
    }
  }

  test("rand() in a quarantine gate's condition is rejected") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.startStream(spark.emptyDataFrame,
        Seq(Step("expect_condition", Map("condition" -> "rand() < 0.5",
          "name" -> "g", "quarantine_path" -> s"$dir/quarantine")),
          survivorsSink))
    }
    assert(e.getMessage.contains("non-deterministic"), e.getMessage)
  }
}

object StreamParitySpec {
  /** Cell values in a form `==` compares by content (binary cells are
    * arrays). */
  private def norm(v: Any): Any = v match {
    case a: Array[_] => a.toSeq.map(norm)
    case r: Row => r.toSeq.map(norm)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case s: scala.collection.Seq[_] => s.map(norm).toSeq
    case other => other
  }

  /** A frame's rows as a multiset of content-compared cells. */
  def multiset(df: DataFrame): Map[Seq[Any], Int] =
    multiset(df.collect().toSeq)

  def multiset(rows: Seq[Row]): Map[Seq[Any], Int] =
    rows.map(r => r.toSeq.map(norm)).groupBy(identity)
      .map { case (k, v) => k -> v.length }

  /** A parity row. `input` is the batch input; the stream gets its
    * rows in two chunks (`chunk` true, then false), then each `closing`
    * row in a chunk of its own, and `keep` drops the closing rows'
    * output from the sink. `batch` replaces `fromSteps` with the batch
    * twin for a stateful body that is stream-only (a
    * `flatMapGroupsWithState` state machine that reads the watermark,
    * which a batch frame does not carry). `view` reshapes the sink's
    * rows before the comparison, and the batch side is projected onto
    * the view's columns. `after` are steps that follow the entry in
    * the chain, `label` tells apart several rows of one entry, and
    * `check` asserts on the sink's rows beyond their equality with
    * batch. */
  final case class Parity(
      op: String, params: Map[String, Any], input: () => DataFrame,
      chunk: String, sensitive: Boolean = false,
      closing: Seq[Row] = Nil, keep: String = "true",
      mode: String = "append",
      batch: Option[DataFrame => DataFrame] = None,
      view: DataFrame => DataFrame = identity,
      after: Seq[Pipeline.Step] = Nil, label: String = "",
      check: DataFrame => Unit = _ => ()) {
    def title: String = if (label.isEmpty) op else s"$op ($label)"
  }
}
