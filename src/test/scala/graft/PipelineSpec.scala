package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Dedup, Pipeline, TextAnalysis}
import graft.operators.Pipeline.{OpSpec, Step}

/** Config-driven pipeline runner: compiled config equals the
  * hand-written operator chain; every config error throws at compile
  * time with a message naming what IS available. */
class PipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  private val curateJson =
    """[
      |  {"op": "drop_exact_duplicates",
      |   "params": {"id_col": "doc_id", "text_col": "text"}},
      |  {"op": "token_count",
      |   "params": {"text_col": "text", "out_col": "n_tokens"}},
      |  {"op": "dup_ngram_fraction",
      |   "params": {"text_col": "text", "n": 2, "out_col": "dup2"}},
      |  {"op": "filter",
      |   "params": {"condition": "dup2 <= 0.05 AND n_tokens >= 30"}},
      |  {"op": "split_by_hash",
      |   "params": {"weights": [["train", 90], ["val", 5], ["test", 5]],
      |              "key_cols": ["doc_id"]}},
      |  {"op": "select",
      |   "params": {"cols": ["doc_id", "lang", "source",
      |                       "n_tokens", "split"]}}
      |]""".stripMargin

  private def handWritten = {
    val gated = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .withColumn("dup2", TextAnalysis.dupNgramFraction(col("text"), 2))
      .filter(col("dup2") <= 0.05 && col("n_tokens") >= 30)
    Curation.splitByHash(gated,
        Seq("train" -> 90L, "val" -> 5L, "test" -> 5L), Seq("doc_id"))
      .select("doc_id", "lang", "source", "n_tokens", "split")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), r.getInt(3), r.getString(4))).toSet

  test("fromJson replays the hand-written curation chain exactly") {
    val out = Pipeline.fromJson(curateJson)(docs)
    assert(out.columns.toSeq ==
      Seq("doc_id", "lang", "source", "n_tokens", "split"))
    val got = rows(out)
    assert(got == rows(handWritten) && got.nonEmpty)
  }

  test("fromYaml parses the same pipeline (the reference README's " +
       "config family)") {
    val yaml =
      """steps:
        |  - op: drop_exact_duplicates
        |    params: {id_col: doc_id, text_col: text}
        |  - op: token_count
        |    params: {text_col: text, out_col: n_tokens}
        |  - op: dup_ngram_fraction
        |    params: {text_col: text, n: 2, out_col: dup2}
        |  - op: filter
        |    params: {condition: "dup2 <= 0.05 AND n_tokens >= 30"}
        |  - op: split_by_hash
        |    params:
        |      weights: [[train, 90], [val, 5], [test, 5]]
        |      key_cols: [doc_id]
        |  - op: select
        |    params:
        |      cols: [doc_id, lang, source, n_tokens, split]
        |""".stripMargin
    assert(rows(Pipeline.fromJson(yaml)(docs)) == rows(handWritten))
    // one parse decides the format from the text alone: a JSON array,
    // {"steps": ...} JSON after a leading newline and block YAML that
    // opens with a comment all give the same step list
    val steps = Pipeline.parse(yaml)
    assert(Pipeline.parse(curateJson) == steps)
    assert(Pipeline.parse(s"""\n{"steps": $curateJson}""") == steps)
    assert(Pipeline.parse(s"# the curation recipe\n$yaml") == steps)
    // ...and so does an include, whatever the file's extension
    val base = java.nio.file.Files.createTempDirectory("graft-parse")
    val (head, tail) = yaml.linesIterator.toSeq.tail.splitAt(6)
    def write(name: String, lines: Seq[String]): String = {
      val f = base.resolve(name)
      java.nio.file.Files.write(f,
        ("steps:" +: lines).mkString("\n").getBytes("UTF-8"))
      f.toString
    }
    val (upper, bare) = (write("head.YAML", head), write("tail", tail))
    val included = Pipeline.fromJson(
      s"""[{"op": "include", "params": {"path": "$upper"}},
         | {"op": "include", "params": {"path": "$bare"}}]""".stripMargin)
    assert(rows(included(docs)) == rows(handWritten))
  }

  test("unknown operator names error at COMPILE time, naming the " +
       "registry") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("exact_dedup")))
    }
    assert(e.getMessage.contains("unknown pipeline operator") &&
      e.getMessage.contains("drop_exact_duplicates"))
  }

  test("unknown and missing params error at compile time") {
    val unknown = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(
        Step("filter", Map("condition" -> "1=1", "mode" -> "x"))))
    }
    assert(unknown.getMessage.contains("unknown params") &&
      unknown.getMessage.contains("mode"))
    val missing = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("filter")))
    }
    assert(missing.getMessage.contains("missing required") &&
      missing.getMessage.contains("condition"))
  }

  test("malformed param values error at compile time with the op name") {
    val e = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(
        Step("dup_ngram_fraction", Map("n" -> "two"))))
    }
    assert(e.getMessage.contains("dup_ngram_fraction") &&
      e.getMessage.contains("integer"))
    // a malformed filter expression fails Catalyst parsing eagerly
    assertThrows[org.apache.spark.sql.AnalysisException] {
      Pipeline.fromSteps(Seq(
        Step("filter", Map("condition" -> "SELECT FROM WHERE"))))
    }
  }

  test("curation registry steps equal their direct operator calls: " +
       "near-dup drop, fractional sample, chunking, C4 clean, PII " +
       "scrub") {
    val direct = {
      val d0 = Dedup.dropNearDuplicates(docs, "doc_id",
        Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 64, 32, 0.5))
      val d1 = Curation.sampleByHashThreshold(d0, 0.5, Seq("doc_id"))
      val d2 = TextAnalysis.c4Clean(d1, "doc_id", "text")
        .withColumnRenamed("text_clean", "text")
      d2.withColumn("text", TextAnalysis.scrubPii(col("text")))
    }
    val cfg =
      """[
        |  {"op": "drop_near_duplicates",
        |   "params": {"threshold": 0.5}},
        |  {"op": "sample_fraction",
        |   "params": {"fraction": 0.5, "key_cols": ["doc_id"]}},
        |  {"op": "c4_clean", "params": {}},
        |  {"op": "with_column",
        |   "params": {"name": "text", "expr": "text_clean"}},
        |  {"op": "scrub_pii", "params": {}}
        |]""".stripMargin
    val got = Pipeline.fromJson(cfg)(docs)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = direct.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want && got.nonEmpty)
    // chunking composes downstream of the cleaned text
    val chunks = Pipeline.fromJson(
      """[{"op": "chunk_by_tokens",
        |  "params": {"max_tokens": 40, "overlap": 8}}]""".stripMargin)(
      docs)
    assert(chunks.columns.toSeq ==
      Seq("id", "chunk_id", "n_tokens", "chunk"))
    assert(chunks.count() ==
      TextAnalysis.chunkByTokens(docs, maxTokens = 40, overlap = 8)
        .count())
  }

  test("runJson: a self-contained config (source step + operator " +
       "chain) IS the job, and equals the hand-written chain") {
    val cfg =
      s"""{"steps": [
         |  {"op": "read_table",
         |   "params": {"dir": "$dir", "table": "documents"}},
         |  {"op": "drop_exact_duplicates",
         |   "params": {"id_col": "doc_id", "text_col": "text"}},
         |  {"op": "token_count",
         |   "params": {"text_col": "text", "out_col": "n_tokens"}},
         |  {"op": "dup_ngram_fraction",
         |   "params": {"text_col": "text", "n": 2, "out_col": "dup2"}},
         |  {"op": "filter",
         |   "params": {"condition": "dup2 <= 0.05 AND n_tokens >= 30"}},
         |  {"op": "split_by_hash",
         |   "params": {"weights": [["train", 90], ["val", 5],
         |                          ["test", 5]],
         |              "key_cols": ["doc_id"]}},
         |  {"op": "select",
         |   "params": {"cols": ["doc_id", "lang", "source",
         |                       "n_tokens", "split"]}}
         |]}""".stripMargin
    assert(rows(Pipeline.runJson(spark, cfg)) == rows(handWritten))
    // a non-source first step errors naming the source whitelist
    val e = intercept[IllegalArgumentException] {
      Pipeline.runSteps(spark,
        Seq(Step("filter", Map("condition" -> "1=1"))))
    }
    assert(e.getMessage.contains("source") &&
      e.getMessage.contains("read_parquet"))
    // the transform chain validates even before the source reads
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.runSteps(spark,
        Seq(Step("read_parquet", Map("path" -> "/nonexistent")),
          Step("no_such_op")))
    }
    assert(e2.getMessage.contains("unknown pipeline operator"))
  }

  test("runJobJson executes a complete source->ops->sink config; " +
       "sink errors validate before anything runs") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-pipe-job").toString + "/result"
    val cfg =
      s"""[
         |  {"op": "read_table",
         |   "params": {"dir": "$dir", "table": "documents"}},
         |  {"op": "token_count", "params": {}},
         |  {"op": "filter", "params": {"condition": "n_tokens >= 30"}},
         |  {"op": "select",
         |   "params": {"cols": ["doc_id", "n_tokens"]}},
         |  {"op": "write_parquet", "params": {"path": "$out"}}
         |]""".stripMargin
    Pipeline.runJobJson(spark, cfg)
    val written = spark.read.parquet(out)
    assert(written.columns.toSeq == Seq("doc_id", "n_tokens"))
    val direct = docs
      .withColumn("n_tokens",
        graft.operators.TextAnalysis.tokenCount(col("text")))
      .filter(col("n_tokens") >= 30).count()
    assert(written.count() == direct && direct > 0)
    val e = intercept[IllegalArgumentException] {
      Pipeline.runJobSteps(spark, Seq(
        Step("read_parquet", Map("path" -> "/nonexistent")),
        Step("select", Map("cols" -> Seq("x")))))
    }
    assert(e.getMessage.contains("sink"))
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.runJobSteps(spark, Seq(
        Step("read_parquet", Map("path" -> "/nonexistent")),
        Step("write_parquet")))
    }
    assert(e2.getMessage.contains("missing required"))
  }

  test("the full train -> store -> serve lifecycle runs as two " +
       "configs: a training job then an inference pipeline") {
    import graft.operators.ModelStore
    val store = java.nio.file.Files
      .createTempDirectory("graft-pipe-train").toString + "/m"
    Pipeline.runJobJson(spark,
      s"""[
         |  {"op": "read_table",
         |   "params": {"dir": "$dir", "table": "documents"}},
         |  {"op": "filter", "params": {"condition": "doc_id % 10 <> 0"}},
         |  {"op": "train_bpe_model",
         |   "params": {"path": "$store", "num_merges": 4}}
         |]""".stripMargin)
    val served = Pipeline.fromJson(
      s"""[{"op": "bpe_tokenize_stored",
         |  "params": {"model_path": "$store"}}]""".stripMargin)(
      docs.filter(col("doc_id") % 10 === 0))
    val direct = ModelStore.bpeTokenizeFromModel(
      docs.filter(col("doc_id") % 10 === 0), store)
    def set(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(set(served) == set(direct) && set(served).nonEmpty)
  }

  test("stored-model steps load at CONFIG-COMPILE time: tokenization " +
       "matches the direct path, and a wrong-kind store fails before " +
       "any job") {
    import graft.operators.{ModelStore, TextAnalysis}
    val store = java.nio.file.Files
      .createTempDirectory("graft-pipe-bpe").toString + "/m"
    ModelStore.writeBpeModel(
      TextAnalysis.trainBpe(docs, "text", numMerges = 4), store)
    val cfg = s"""[{"op": "bpe_tokenize_stored",
                 |  "params": {"model_path": "$store"}}]""".stripMargin
    val got = Pipeline.fromJson(cfg)(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    val direct = ModelStore.bpeTokenizeFromModel(docs, store).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(got == direct && got.nonEmpty)
    // pointing the logistic step at the BPE store errors at compile
    val e = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(
        Step("score_logistic_stored", Map("model_path" -> store))))
    }
    assert(e.getMessage.contains("bpe") &&
      e.getMessage.contains("logistic"))
  }

  test("every stored-inference step has a training-sink twin: " +
       "pieces/unigram/bigram-LM train as job configs and serve " +
       "bit-identically to the direct train path") {
    import graft.operators.{LanguageModel, ModelStore}
    val base = java.nio.file.Files
      .createTempDirectory("graft-train-sinks").toString
    def trainCfg(sink: String, path: String, extra: String = "") =
      Pipeline.runJobJson(spark,
        s"""[
           |  {"op": "read_table",
           |   "params": {"dir": "$dir", "table": "documents"}},
           |  {"op": "filter", "params": {"condition": "doc_id % 10 <> 0"}},
           |  {"op": "$sink", "params": {"path": "$path"$extra}}
           |]""".stripMargin)
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val held = docs.filter(col("doc_id") % 10 === 0)
    def strSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

    trainCfg("train_pieces_model", s"$base/pieces",
      """, "top_n": 100, "max_piece_len": 5""")
    val directPieces = s"$base/pieces_direct"
    ModelStore.writePiecesModel(
      TextAnalysis.trainPieces(train, "text", topN = 100,
        maxPieceLen = 5), directPieces, maxPieceLen = 5)
    assert(strSet(ModelStore.piecesTokenizeFromModel(held,
        s"$base/pieces")) ==
      strSet(ModelStore.piecesTokenizeFromModel(held, directPieces)))

    trainCfg("train_unigram_model", s"$base/uni",
      """, "seed_top_n": 40, "max_piece_len": 4, "keep_n": 30,
        | "em_rounds": 1, "max_word_len": 8""".stripMargin)
    val directUni = s"$base/uni_direct"
    ModelStore.writeUnigramModel(
      TextAnalysis.trainUnigram(train, "text", seedTopN = 40,
        maxPieceLen = 4, keepN = 30, emRounds = 1, maxWordLen = 8),
      directUni, maxPieceLen = 4)
    assert(strSet(ModelStore.unigramTokenizeFromModel(held,
        s"$base/uni")) ==
      strSet(ModelStore.unigramTokenizeFromModel(held, directUni)))

    trainCfg("train_lm_model", s"$base/lm")
    val got = strSet(Pipeline.fromJson(
      s"""[{"op": "score_kn_stored",
         |  "params": {"model_path": "$base/lm"}}]""".stripMargin)(held))
    assert(got == strSet(LanguageModel.scoreByKneserNey(held,
      LanguageModel.trainBigram(train, "doc_id", "text"),
      "doc_id", "text")) && got.nonEmpty)
  }

  test("pieces/unigram/KN stored steps equal their direct calls; " +
       "wrong-kind stores fail at config-compile time") {
    import graft.operators.{LanguageModel, ModelStore}
    val base = java.nio.file.Files
      .createTempDirectory("graft-pipe-stored").toString
    val piecesStore = base + "/pieces"
    val unigramStore = base + "/unigram"
    val lmStore = base + "/lm"
    val ngramStore = base + "/ngram"
    ModelStore.writePiecesModel(
      TextAnalysis.trainPieces(docs, "text", topN = 100,
        maxPieceLen = 5), piecesStore, maxPieceLen = 5)
    ModelStore.writeUnigramModel(
      TextAnalysis.trainUnigram(docs, "text", seedTopN = 40,
        maxPieceLen = 4, keepN = 30, emRounds = 1, maxWordLen = 8),
      unigramStore, maxPieceLen = 4)
    ModelStore.writeLmModel(
      LanguageModel.trainBigram(docs, "doc_id", "text"), lmStore)
    ModelStore.writeNgramModel(
      LanguageModel.trainNgrams(docs, "doc_id", "text", maxN = 3),
      ngramStore, maxN = 3)
    val held = docs.filter(col("doc_id") % 7 === 0)
    def viaCfg(op: String, store: String, extra: String = "") =
      Pipeline.fromJson(
        s"""[{"op": "$op",
           |  "params": {"model_path": "$store"$extra}}]"""
          .stripMargin)(held)
    def strSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    assert(strSet(viaCfg("pieces_tokenize_stored", piecesStore)) ==
      strSet(ModelStore.piecesTokenizeFromModel(held, piecesStore)))
    assert(strSet(viaCfg("unigram_tokenize_stored", unigramStore)) ==
      strSet(ModelStore.unigramTokenizeFromModel(held, unigramStore)))
    assert(strSet(viaCfg("score_kn_stored", lmStore)) ==
      strSet(LanguageModel.scoreByKneserNey(held,
        ModelStore.lmFromModel(spark, lmStore), "doc_id", "text")))
    assert(strSet(viaCfg("score_kn_ngram_stored", ngramStore,
        """, "order": 3""")) ==
      strSet(LanguageModel.scoreByKneserNeyN(held,
        ModelStore.ngramsFromModel(spark, ngramStore),
        "doc_id", "text", 3)))
    assert(strSet(viaCfg("score_kn_stored", lmStore)).nonEmpty)
    // cross-kind pointing errors BEFORE any job, naming both kinds
    val e = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(
        Step("pieces_tokenize_stored",
          Map("model_path" -> unigramStore))))
    }
    assert(e.getMessage.contains("unigram") &&
      e.getMessage.contains("pieces"))
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(
        Step("score_kn_ngram_stored", Map("model_path" -> lmStore))))
    }
    assert(e2.getMessage.contains("bigram_lm") &&
      e2.getMessage.contains("ngram_lm"))
  }

  test("apply_changes step equals Layout.applyChanges directly; " +
       "param typos error at compile time") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-pipe-cdc").toString + "/chg"
    val changes = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), lit(1L).as("seq"),
        when(col("doc_id") % 2 === 0, "delete").otherwise("upsert")
          .as("op"),
        col("lang"), concat(col("text"), lit(" v2")).as("text"),
        col("source"))
    changes.write.mode("overwrite").parquet(base)
    val snap = docs.select("doc_id", "lang", "text", "source")
    val got = Pipeline.fromJson(
      s"""[{"op": "apply_changes",
         |  "params": {"changes_path": "$base",
         |             "key_cols": ["doc_id"]}}]""".stripMargin)(snap)
    val direct = graft.sources.Layout.applyChanges(snap,
      spark.read.parquet(base), Seq("doc_id"))
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(keyed(got) == keyed(direct) && keyed(got).nonEmpty)
    val e = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("apply_changes",
        Map("changes_path" -> base, "key_cols" -> Seq("doc_id"),
          "sequence_col" -> "seq"))))
    }
    assert(e.getMessage.contains("unknown params sequence_col") &&
      e.getMessage.contains("seq_col"))
  }

  test("extra registry entries compose and may override builtins " +
       "(the register_function precedence)") {
    val constant = OpSpec(Set("value"), Set(),
      p => { val v = p.str("value")
        df => df.withColumn("tagged", lit(v)) })
    val out = Pipeline.fromSteps(
      Seq(Step("tag", Map("value" -> "v1")),
        Step("select", Map("cols" -> Seq("doc_id", "tagged")))),
      extra = Map("tag" -> constant))(docs)
    assert(out.columns.toSeq == Seq("doc_id", "tagged"))
    assert(out.select("tagged").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("v1"))
    // override: 'filter' replaced by a pass-through
    val noop = OpSpec(Set(), Set("condition"), _ => df => df)
    val n = docs.count()
    val kept = Pipeline.fromSteps(
      Seq(Step("filter", Map("condition" -> "1 = 0"))),
      extra = Map("filter" -> noop))(docs).count()
    assert(kept == n)
  }

  test("artifact probe steps validate params at compile time: " +
       "unknown keys, missing required keys, and a missing centroid " +
       "store all name themselves before any job") {
    Seq(
      "bm25_from_index" -> Map("index_path" -> "/tmp/x", "k" -> 5L),
      "near_dup_pairs_stored" -> Map("store_path" -> "/tmp/x"),
      "drop_near_duplicates_stored" -> Map("store_path" -> "/tmp/x"))
      .foreach { case (op, good) =>
        val unknown = intercept[IllegalArgumentException] {
          Pipeline.fromSteps(Seq(Step(op, good + ("bogus" -> "v"))))
        }
        assert(unknown.getMessage.contains("unknown params") &&
          unknown.getMessage.contains("bogus"), op)
        val missing = intercept[IllegalArgumentException] {
          Pipeline.fromSteps(Seq(Step(op)))
        }
        assert(missing.getMessage.contains("missing required"), op)
      }
    // ann_topk_indexed loads centroids at COMPILE time: a path that
    // does not exist fails before any DataFrame flows
    assertThrows[org.apache.spark.sql.AnalysisException] {
      Pipeline.fromSteps(Seq(Step("ann_topk_indexed",
        Map("index_path" -> "/tmp/x",
          "centroids_path" -> "/tmp/graft_no_such_centroids",
          "k" -> 5L))))
    }
  }

  test("artifact-build sinks and shard-merge sources validate " +
       "eagerly: unknown params name themselves; a malformed schema " +
       "DDL names itself") {
    Seq("write_search_index", "write_signature_store",
      "write_quantile_shards", "write_profile_shards",
      "write_cardinality_shards",
      "build_ann_index").foreach { op =>
      val e = intercept[IllegalArgumentException] {
        Pipeline.runJobSteps(spark, Seq(
          Step("read_parquet", Map("path" -> s"$dir/documents.parquet")),
          Step(op, Map("bogus" -> "v"))))
      }
      assert(e.getMessage.contains("unknown params") ||
        e.getMessage.contains("missing required"), op)
    }
    Seq("read_jsonl", "read_csv", "quantiles_from_shards",
      "profile_from_shards", "cardinality_from_shards").foreach { op =>
      val e = intercept[IllegalArgumentException] {
        Pipeline.runSteps(spark, Seq(Step(op, Map("bogus" -> "v"))))
      }
      assert(e.getMessage.contains("unknown params"), op)
    }
    val ddl = intercept[IllegalArgumentException] {
      Pipeline.runSteps(spark, Seq(Step("read_jsonl",
        Map("path" -> "/tmp/x", "schema" -> "a WAT, b"))))
    }
    assert(ddl.getMessage.contains("malformed 'schema' DDL"))
  }

  test("read_jsonl / read_csv config sources round-trip the " +
       "write_jsonl / write_csv sinks") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-cfg-rt").toString
    val sel = docs.select("doc_id", "lang", "n_chars").limit(50)
    val expect = sel.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    Seq(("write_jsonl", "read_jsonl", "jl"),
      ("write_csv", "read_csv", "cs")).foreach {
      case (wOp, rOp, sub) =>
        Pipeline.runJobSteps(spark, Seq(
          Step("read_parquet", Map("path" -> s"$dir/documents.parquet")),
          Step("select",
            Map("cols" -> Seq("doc_id", "lang", "n_chars"))),
          Step("filter", Map("condition" -> "doc_id < 50")),
          Step(wOp, Map("path" -> s"$base/$sub"))))
        val back = Pipeline.runSteps(spark, Seq(Step(rOp, Map(
          "path" -> s"$base/$sub",
          "schema" -> "doc_id BIGINT, lang STRING, n_chars BIGINT"))))
        val got = back.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
        assert(got == expect.filter(_._1 < 50) && got.nonEmpty, rOp)
    }
  }

  test("event-analytics and graph registry steps equal their direct " +
       "operator calls: windowed_stats, sessionize, funnel, " +
       "pagerank, connected_components") {
    import graft.operators.{Events, Graph}
    val ev = graft.sources.Sources.events(spark, dir)
    def set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    assert(set(Pipeline.fromJson(
        """[{"op": "windowed_stats",
          |  "params": {"window_length": "2 hours"}}]""".stripMargin)(ev))
      == set(Events.windowedStats(ev, windowLength = "2 hours")))
    assert(set(Pipeline.fromJson(
        """[{"op": "sessionize",
          |  "params": {"gap_seconds": 1800}}]""".stripMargin)(ev))
      == set(Events.sessionize(ev, 1800L)))
    assert(set(Pipeline.fromJson(
        """[{"op": "funnel",
          |  "params": {"steps": ["view", "click", "purchase"],
          |             "window_seconds": 86400}}]""".stripMargin)(ev))
      == set(Events.funnel(ev, Seq("view", "click", "purchase"),
        86400L)))
    val edges = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_suppkey").as("src"),
        (col("l_partkey") + 1000000L).as("dst"))
    val prCfg = Pipeline.fromJson(
      """[{"op": "pagerank",
        |  "params": {"src_col": "src", "dst_col": "dst",
        |             "iters": 2}}]""".stripMargin)(edges)
    assert(set(prCfg) == set(Graph.pageRank(edges, "src", "dst", 2)) &&
      prCfg.count() > 0)
    assert(set(Pipeline.fromJson(
        """[{"op": "connected_components",
          |  "params": {"src_col": "src", "dst_col": "dst"}}]"""
          .stripMargin)(edges))
      == set(Graph.connectedComponents(edges, "src", "dst")))
  }

  test("stateless registry steps equal their direct operator calls: " +
       "canonicalize_urls, split_sentences, readability_scores, " +
       "gopher_repetition_flags, compression_ratio") {
    import graft.operators.{Sentences, UrlOps}
    val urlExpr = "concat('https://www.', source, '.example.com/a/b/', " +
      "cast(doc_id as string), '?utm_source=x&q=1')"
    def cfgRun(steps: String) =
      Pipeline.fromJson(steps)(docs)
    val canon = cfgRun(
      s"""[
         |  {"op": "with_column", "params": {"name": "url",
         |   "expr": "$urlExpr"}},
         |  {"op": "canonicalize_urls"}
         |]""".stripMargin).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("url_canon")))
      .toSet
    assert(canon == UrlOps.canonicalizeUrls(
        docs.withColumn("url", expr(urlExpr)))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("url_canon")))
      .toSet)
    assert(canon.nonEmpty && canon.forall(!_._2.contains("utm_source")))
    val sent = cfgRun("""[{"op": "split_sentences"}]""").count()
    assert(sent == Sentences.splitSentences(docs).count() && sent > 0)
    val read = cfgRun("""[{"op": "readability_scores"}]""").collect()
      .map(r => (r.getLong(0), r.getDouble(r.fieldIndex("flesch"))))
      .toSet
    assert(read == Sentences.readabilityScores(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(r.fieldIndex("flesch"))))
      .toSet)
    val rep = cfgRun("""[{"op": "gopher_repetition_flags"}]""")
    assert(rep.columns.contains("keep") &&
      rep.count() == docs.count())
    val cr = cfgRun(
      """[{"op": "compression_ratio", "params": {"level": 6}}]""")
      .select("deflate_ratio").collect().map(_.getDouble(0))
    assert(cr.length == docs.count() && cr.forall(r => r > 0 && r < 2))
  }

  test("the FULL crawl chain runs as one config: read_warc_gz -> " +
       "parse_warc_records -> http_responses -> extract_text -> " +
       "normalize_text equals the hand-written chain") {
    val s = spark
    val base = java.nio.file.Files
      .createTempDirectory("graft-cfg-crawl").toFile
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    def httpRec(i: Int): Array[Byte] = {
      val para = s"This is real page $i with enough plain words to " +
        "survive the extraction rules and it keeps going for a while."
      val html = s"<html><head><title>t</title>" +
        s"<script>var x = $i;</script></head><body><p>$para</p>" +
        s"<p><a href='/x'>nav</a> <a href='/y'>more</a></p>" +
        s"</body></html>"
      val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
        s"charset=utf-8\r\n\r\n$html"
      (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n$http")
        .getBytes("US-ASCII")
    }
    val f = new java.io.FileOutputStream(
      new java.io.File(base, "crawl.warc.gz"))
    (0 until 6).foreach(i => f.write(gz(httpRec(i))))
    f.close()
    // form 1: a SELF-CONTAINED job config — the read_warc_gz source
    // emits parsed records, so the chain starts at http_responses
    val got = Pipeline.runJson(s,
      s"""[
         |  {"op": "read_warc_gz",
         |   "params": {"paths": ["${base.getAbsolutePath}"]}},
         |  {"op": "http_responses"},
         |  {"op": "with_column", "params": {"name": "rid",
         |   "expr": "rec_id"}},
         |  {"op": "extract_text",
         |   "params": {"id_col": "rid", "html_col": "body"}},
         |  {"op": "normalize_text",
         |   "params": {"id_col": "rid", "text_col": "text_main"}}
         |]""".stripMargin).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    // form 2: raw format("warcgz") rows, parse_warc_records in-chain
    // (the shape the STREAMING job uses)
    val raw = s.read.format("warcgz")
      .load(base.getAbsolutePath + "/crawl.warc.gz")
    val got2 = Pipeline.fromJson(
      """[
        |  {"op": "parse_warc_records"},
        |  {"op": "http_responses"},
        |  {"op": "with_column", "params": {"name": "rid",
        |   "expr": "rec_id"}},
        |  {"op": "extract_text",
        |   "params": {"id_col": "rid", "html_col": "body"}},
        |  {"op": "normalize_text",
        |   "params": {"id_col": "rid", "text_col": "text_main"}}
        |]""".stripMargin)(raw).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    val hand = graft.operators.Normalize.normalizeText(
        graft.operators.HtmlExtract.extractText(
          graft.sources.Warc.httpResponses(
              graft.sources.Warc.parseRecordRows(raw))
            .withColumn("rid", col("rec_id")),
          "rid", "body"),
        "rid", "text_main").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == hand && got2 == hand && got.size == 6)
    got.foreach { case (_, text) =>
      assert(text.contains("real page") && !text.contains("script") &&
        !text.contains("nav"))
    }
  }

  test("merge_search_index config sink folds a delta into a " +
       "persisted index; probing the merged index equals a " +
       "full-corpus build") {
    import graft.operators.TextSearch
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-cfg-merge").toString
    val old = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    TextSearch.writeSearchIndex(old, s"$base/old")
    delta.write.mode("overwrite").parquet(s"$base/delta")
    Pipeline.runJobJson(s,
      s"""[
         |  {"op": "read_parquet", "params": {"path": "$base/delta"}},
         |  {"op": "merge_search_index",
         |   "params": {"path": "$base/old", "out_path": "$base/merged"}}
         |]""".stripMargin)
    val queries = Seq((0L, "spark join fast"), (1L, "customer order"))
      .toDF("query_id", "qtext")
    TextSearch.writeSearchIndex(docs, s"$base/full")
    def topk(path: String) =
      TextSearch.bm25FromIndex(s, path, queries, k = 10).collect()
        .map(r => (r.getLong(0), r.getAs[Long]("doc_id"),
          r.getAs[Double]("score"))).toSet
    val merged = topk(s"$base/merged")
    assert(merged == topk(s"$base/full") && merged.nonEmpty)
  }

  test("drop_near_duplicates_stored gates a batch against a " +
       "persisted store exactly like the hand-written drop") {
    val store = java.nio.file.Files
      .createTempDirectory("graft-cfg-store").toString + "/sig"
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    Dedup.writeBandSignatures(corpus, "doc_id", "text", store,
      n = 3, numHashes = 64, bands = 32)
    val got = Pipeline.fromSteps(Seq(
      Step("drop_near_duplicates_stored",
        Map("store_path" -> store, "threshold" -> 0.5))))(batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = Dedup.dropNearDuplicates(batch, "doc_id",
        Dedup.minHashLshPairsAgainstStore(batch, store, "doc_id",
          "text", threshold = 0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
    assert(got.size < batch.count()) // something actually dropped
  }

  test("table-health / streaming / multimodal / host_graph steps " +
       "validate eagerly: unknown params and missing required params " +
       "name themselves before any job") {
    Seq(
      "profile" -> Map[String, Any]("cols" -> Seq("n_chars")),
      "histogram" -> Map[String, Any](
        "value_col" -> "n_chars", "bin_width" -> 10.0),
      "ks_drift" -> Map[String, Any]("baseline_path" -> "/tmp/x",
        "value_col" -> "v", "bin_width" -> 5.0),
      "psi_drift" -> Map[String, Any]("baseline_path" -> "/tmp/x",
        "value_col" -> "v", "bin_width" -> 5.0),
      "kl_divergence" -> Map[String, Any](
        "baseline_path" -> "/tmp/x", "cat_col" -> "lang"),
      "suppress_below_k" -> Map[String, Any](
        "quasi_cols" -> Seq("lang"), "k" -> 5L),
      "host_graph" -> Map[String, Any](
        "src_col" -> "u", "dst_url_col" -> "v"),
      "as_assets" -> Map[String, Any]("mime" -> "text/plain"),
      "windowed_quantiles_watermarked" -> Map[String, Any](
        "watermark_delay" -> "1 hour", "qs" -> Seq(0.5)),
      "trending_tokens_watermarked" -> Map[String, Any](
        "watermark_delay" -> "1 hour"),
      "quantile_stats" -> Map[String, Any](
        "value_col" -> "v", "qs" -> Seq(0.5)),
      "equi_depth_histogram" -> Map[String, Any]("value_col" -> "v"),
      "ecdf_normalize" -> Map[String, Any]("score_col" -> "v"),
      "pr_curve" -> Map[String, Any](
        "score_col" -> "s", "label_col" -> "y"),
      "auc_binned" -> Map[String, Any](
        "score_col" -> "s", "label_col" -> "y"),
      "calibration_curve" -> Map[String, Any](
        "prob_col" -> "p", "label_col" -> "y"),
      "correlation_matrix" -> Map[String, Any](
        "cols" -> Seq("a", "b")),
      "cohen_kappa" -> Map[String, Any](
        "col_a" -> "a", "col_b" -> "b"),
      "key_concentration" -> Map[String, Any]("key_col" -> "k"),
      "benford_test" -> Map[String, Any]("value_col" -> "v"),
      "chi_square" -> Map[String, Any](
        "col_a" -> "a", "col_b" -> "b"),
      "welch_ttest" -> Map[String, Any]("value_col" -> "v",
        "group_col" -> "g", "group_a" -> "x", "group_b" -> "y"),
      "proportion_ztest" -> Map[String, Any]("success_col" -> "v",
        "group_col" -> "g", "group_a" -> "x", "group_b" -> "y"),
      "k_anonymity_violations" -> Map[String, Any](
        "quasi_cols" -> Seq("a"), "k" -> 5L),
      "referential_orphans" -> Map[String, Any](
        "parent_path" -> "/tmp/x", "child_key" -> "a",
        "parent_key" -> "b", "label" -> "a->b"),
      "adamic_adar" -> Map[String, Any](
        "src_col" -> "u", "dst_col" -> "v"),
      "hits" -> Map[String, Any]("src_col" -> "u", "dst_col" -> "v"),
      "k_core" -> Map[String, Any](
        "src_col" -> "u", "dst_col" -> "v", "k" -> 2L),
      "label_propagation" -> Map[String, Any](
        "src_col" -> "u", "dst_col" -> "v"),
      "triangle_counts" -> Map[String, Any](
        "src_col" -> "u", "dst_col" -> "v"),
      "assortativity" -> Map[String, Any](
        "src_col" -> "u", "dst_col" -> "v"),
      "personalized_pagerank" -> Map[String, Any]("src_col" -> "u",
        "dst_col" -> "v", "seeds" -> Seq(1L)),
      "approx_distinct" -> Map[String, Any]("cols" -> Seq("a")),
      "expect_columns" -> Map[String, Any]("schema" -> "a BIGINT"),
      "expect_condition" -> Map[String, Any]("condition" -> "a > 0"),
      "pagerank_weighted" -> Map[String, Any]("src_col" -> "u",
        "dst_col" -> "v", "weight_col" -> "w"),
      "stratified_sample" -> Map[String, Any](
        "strata_cols" -> Seq("a"), "fraction" -> 0.5,
        "key_cols" -> Seq("k")),
      "resample_to_mixture" -> Map[String, Any]("domain_col" -> "d",
        "weights" -> Map[String, Any]("x" -> 1.0),
        "key_cols" -> Seq("k")),
      "resample_by_temperature" -> Map[String, Any](
        "domain_col" -> "d", "alpha" -> 0.5, "key_cols" -> Seq("k")),
      "weighted_sample" -> Map[String, Any]("weight" -> "1.0",
        "key_cols" -> Seq("k")),
      "sample_weighted_top_k" -> Map[String, Any]("weight" -> "1.0",
        "k" -> 5L, "key_cols" -> Seq("k")),
      "cap_per_group" -> Map[String, Any]("group_cols" -> Seq("g"),
        "n" -> 5L, "key_cols" -> Seq("k")),
      "split_by_cluster" -> Map[String, Any]("id_col" -> "id",
        "pairs_path" -> "/tmp/x",
        "weights" -> Seq(Seq("train", 1L))),
      "select_by_token_budget" -> Map[String, Any](
        "budget_tokens" -> 10L, "domain_cols" -> Seq("d"),
        "quality" -> "1.0", "id_col" -> "id", "tokens" -> "1"),
      "filter_by_quantile" -> Map[String, Any]("score" -> "1.0",
        "q" -> 0.5),
      "bucket_by_quantile" -> Map[String, Any]("score" -> "1.0"),
      "soft_dedup_sample" -> Map[String, Any](
        "clusters_path" -> "/tmp/x"),
      "contamination_flags" -> Map[String, Any](
        "benchmark_path" -> "/tmp/x", "id_col" -> "id",
        "text_col" -> "t"),
      "importance_weights" -> Map[String, Any](
        "target_path" -> "/tmp/x", "id_col" -> "id",
        "text_col" -> "t"),
      "pack_sequences" -> Map[String, Any]("budget_tokens" -> 10L,
        "shard_cols" -> Seq("s"), "id_col" -> "id",
        "text_col" -> "t"),
      "attribution" -> Map[String, Any](
        "conversion_type" -> "purchase",
        "lookback_seconds" -> 100L),
      "scd2" -> Map[String, Any]("key_col" -> "k",
        "attr_col" -> "a"),
      "melt" -> Map[String, Any]("id_cols" -> Seq("a"),
        "value_cols" -> Seq("b")),
      "pivot_agg" -> Map[String, Any]("group_cols" -> Seq("g"),
        "pivot_col" -> "p", "agg" -> "sum(v)"),
      "cube" -> Map[String, Any]("group_cols" -> Seq("g"),
        "aggs" -> Seq("count(1) AS n")),
      "rollup" -> Map[String, Any]("group_cols" -> Seq("g"),
        "aggs" -> Seq("count(1) AS n")),
      "snapshot_diff" -> Map[String, Any]("old_path" -> "/tmp/x",
        "key_cols" -> Seq("k"), "compare_cols" -> Seq("v")),
      "robots_gate" -> Map[String, Any]("rules_path" -> "/tmp/x"),
      "recrawl_schedule" -> Map[String, Any](
        "now_epoch" -> 1700000000L))
      .foreach { case (op, good) =>
        val unknown = intercept[IllegalArgumentException] {
          Pipeline.fromSteps(Seq(Step(op, good + ("bogus" -> "v"))))
        }
        assert(unknown.getMessage.contains("unknown params") &&
          unknown.getMessage.contains("bogus"), op)
        val missing = intercept[IllegalArgumentException] {
          Pipeline.fromSteps(Seq(Step(op)))
        }
        assert(missing.getMessage.contains("missing required"), op)
      }
    // all-optional steps: unknown keys still name themselves
    Seq("mad_gate", "winsorize", "decode_features", "phash_dedup",
      "retention_cohorts", "gap_fill", "rolling_anomalies",
      "transition_matrix", "decayed_activity", "inter_arrival_stats",
      "seasonal_baseline", "top_paths", "parse_robots",
      "parse_sitemaps", "frontier_schedule")
      .foreach { op =>
        val e = intercept[IllegalArgumentException] {
          Pipeline.fromSteps(Seq(Step(op, Map("bogus" -> "v"))))
        }
        assert(e.getMessage.contains("unknown params") &&
          e.getMessage.contains("bogus"), op)
      }
    // mad_gate with only ONE of median/scaled_mad pinned fails by
    // name at compile time (a silent half-pin would fit the other
    // from data and gate against a mixed threshold)
    val half = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("mad_gate",
        Map("median" -> 5.0))))
    }
    assert(half.getMessage.contains("scaled_mad"))
  }

  test("table-health steps replay their hand-written twins: " +
       "histogram / winsorize / mad_gate(fit) == the direct " +
       "operator calls") {
    import graft.operators.Stats
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("value"))
    def hrows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val hist = Pipeline.fromSteps(Seq(Step("histogram",
      Map("value_col" -> "value", "bin_width" -> 10.0))))(ev)
    assert(hrows(hist) == hrows(Stats.histogram(ev, "value", 10.0)) &&
      hist.count() > 0)
    val win = Pipeline.fromSteps(Seq(Step("winsorize",
      Map("value_col" -> "value", "lo" -> 0.05, "hi" -> 0.95))))(ev)
    assert(hrows(win) ==
      hrows(Stats.winsorize(ev, "value", 0.05, 0.95)))
    // fit path == fitMad + madGate; pinned path == the same when the
    // pins are the fitted values
    val (m, s) = Stats.fitMad(ev, "value")
    val fit = Pipeline.fromSteps(Seq(Step("mad_gate",
      Map("value_col" -> "value"))))(ev)
    val pinned = Pipeline.fromSteps(Seq(Step("mad_gate",
      Map("value_col" -> "value", "median" -> m,
        "scaled_mad" -> s))))(ev)
    val direct = Stats.madGate(ev, "value", m, s)
    assert(hrows(fit) == hrows(direct) &&
      hrows(pinned) == hrows(direct) && direct.count() > 0)
  }

  test("stats-test and graph steps equal their direct operator " +
       "calls: chi_square, key_concentration, triangle_counts, " +
       "personalized_pagerank") {
    import graft.operators.{Graph, Stats}
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("hit", col("value") > 50.0)
    def hrows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val chi = Pipeline.fromSteps(Seq(Step("chi_square",
      Map("col_a" -> "event_type", "col_b" -> "hit"))))(ev)
    assert(hrows(chi) ==
      hrows(Stats.chiSquareIndependence(ev, "event_type", "hit")) &&
      chi.count() == 1)
    val conc = Pipeline.fromSteps(Seq(Step("key_concentration",
      Map("key_col" -> "user_id"))))(ev)
    assert(hrows(conc) == hrows(Stats.keyConcentration(ev, "user_id")))
    val edges = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_suppkey").as("u"),
        (col("l_partkey") + 10000000L).as("v"))
    val tri = Pipeline.fromSteps(Seq(Step("triangle_counts",
      Map("src_col" -> "u", "dst_col" -> "v"))))(edges)
    assert(hrows(tri) == hrows(Graph.triangleCounts(edges, "u", "v")))
    val s = spark
    import s.implicits._
    val ppr = Pipeline.fromSteps(Seq(Step("personalized_pagerank",
      Map("src_col" -> "u", "dst_col" -> "v",
        "seeds" -> Seq(1L, 2L)))))(edges)
    assert(hrows(ppr) == hrows(Graph.personalizedPageRank(edges,
      Seq(1L, 2L).toDF("node"), "u", "v")) && ppr.count() > 0)
  }

  test("include step splices another config file's steps in place " +
       "(json + yaml), recursively; cycles, deep chains, unknown " +
       "params, and unreadable files all error by name") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-include")
    def write(name: String, text: String): String = {
      val f = base.resolve(name)
      java.nio.file.Files.write(f, text.getBytes("UTF-8"))
      f.toString
    }
    val inner = write("inner.yaml",
      """steps:
        |  - op: token_count
        |    params: {text_col: text, out_col: n_tokens}
        |""".stripMargin)
    val mid = write("mid.json",
      s"""[{"op": "include", "params": {"path": "$inner"}},
         |  {"op": "filter", "params": {"condition": "n_tokens >= 30"}}]"""
        .stripMargin)
    val out = Pipeline.fromJson(
      s"""[{"op": "include", "params": {"path": "$mid"}},
         |  {"op": "select", "params": {"cols": ["doc_id", "n_tokens"]}}]"""
        .stripMargin)(docs)
    val direct = Pipeline.fromSteps(Seq(
      Step("token_count",
        Map("text_col" -> "text", "out_col" -> "n_tokens")),
      Step("filter", Map("condition" -> "n_tokens >= 30")),
      Step("select", Map("cols" -> Seq("doc_id", "n_tokens")))))(docs)
    assert(out.collect().map(_.toSeq).toSet ==
      direct.collect().map(_.toSeq).toSet && out.count() > 0)
    // cycle: a file including itself names the chain
    val cyc = base.resolve("cyc.json").toString
    write("cyc.json",
      s"""[{"op": "include", "params": {"path": "$cyc"}}]""")
    val e = intercept[IllegalArgumentException] {
      Pipeline.fromJson(
        s"""[{"op": "include", "params": {"path": "$cyc"}}]""")(docs)
    }
    assert(e.getMessage.contains("cycle") &&
      e.getMessage.contains("cyc.json"))
    // unknown param + missing file
    val unk = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("include",
        Map("path" -> inner, "bogus" -> "v"))))
    }
    assert(unk.getMessage.contains("unknown params"))
    val gone = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("include",
        Map("path" -> s"$base/never_written.json"))))
    }
    assert(gone.getMessage.contains("cannot read"))
    // includes resolve through the Hadoop FileSystem API: a
    // scheme-qualified file:// URI works like a bare path, and a
    // bare-path/qualified-URI pair still trips cycle detection
    // (the fs-qualified URI is the canonical id)
    val viaUri = Pipeline.fromJson(
      s"""[{"op": "include", "params": {"path": "file://$inner"}}]""")(
      docs)
    assert(viaUri.columns.contains("n_tokens"))
    write("cyc2.json",
      s"""[{"op": "include", "params": {"path": "file://$cyc"}}]""")
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.fromJson(
        s"""[{"op": "include",
           |  "params": {"path": "${base.resolve("cyc2.json")}"}}]"""
          .stripMargin)(docs)
    }
    assert(e2.getMessage.contains("cycle"))
    // a non-streamable step ARRIVING VIA INCLUDE is still rejected
    val viaInc = write("agg.json",
      """[{"op": "windowed_stats"}]""")
    val ns = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Seq(Step("include",
        Map("path" -> viaInc))))
    }
    assert(ns.getMessage.contains("not streamable"))
  }

  test("expect_columns / expect_condition contracts: transparent " +
       "when satisfied, loud and named when violated") {
    import org.apache.spark.sql.functions.col
    // satisfied: both gates pass the frame through unchanged
    val gated = Pipeline.fromSteps(Seq(
      Step("expect_columns",
        Map("schema" -> "doc_id BIGINT, text STRING")),
      Step("expect_condition",
        Map("condition" -> "doc_id IS NOT NULL",
          "name" -> "pk_not_null"))))(docs)
    assert(gated.count() == docs.count())
    // schema contract: missing column and type mismatch name both
    val miss = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("expect_columns",
        Map("schema" -> "no_such_col STRING, doc_id STRING"))))(docs)
    }
    assert(miss.getMessage.contains("missing: no_such_col") &&
      miss.getMessage.contains("type mismatch") &&
      miss.getMessage.contains("doc_id (got bigint, want string)"))
    // allow_extra=false rejects undeclared columns by name
    val extra = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("expect_columns",
        Map("schema" -> "doc_id BIGINT",
          "allow_extra" -> false))))(docs)
    }
    assert(extra.getMessage.contains("unexpected") &&
      extra.getMessage.contains("text"))
    // malformed DDL fails at CONFIG-COMPILE time
    assertThrows[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("expect_columns",
        Map("schema" -> "a WAT"))))
    }
    // row contract: a violating row fails the job with the gate name
    val bad = intercept[Exception] {
      Pipeline.fromSteps(Seq(Step("expect_condition",
        Map("condition" -> "n_chars < 50", "name" -> "short_only"))))(
        docs).count()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)
    assert(msgs(bad).contains("short_only"))
    // a NULL condition is a violation (ANSI-style), not a pass
    val nul = intercept[Exception] {
      Pipeline.fromSteps(Seq(Step("expect_condition",
        Map("condition" -> "cast(null as boolean)"))))(docs).count()
    }
    assert(msgs(nul).contains("expect_condition"))
    // streaming whitelist admits both contracts
    Pipeline.fromStepsStreaming(Seq(
      Step("expect_columns", Map("schema" -> "doc_id BIGINT")),
      Step("expect_condition", Map("condition" -> "doc_id >= 0"))))
  }

  test("expect_unique: passes a unique key through unchanged; a " +
       "duplicate fails the job with the gate name; batch-only " +
       "(rejected from streaming configs by name)") {
    val s = spark
    import s.implicits._
    val unique = Pipeline.fromSteps(Seq(Step("expect_unique",
      Map("cols" -> Seq("doc_id")))))(docs)
    assert(unique.count() == docs.count())
    val dup = docs.limit(5).union(docs.limit(2))
    val bad = intercept[Exception] {
      Pipeline.fromSteps(Seq(Step("expect_unique",
        Map("cols" -> Seq("doc_id"), "name" -> "pk_unique"))))(dup)
        .count()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)
    assert(msgs(bad).contains("pk_unique"))
    // composite keys: same values across DIFFERENT key columns pass
    val comp = Seq((1L, "a"), (1L, "b"), (2L, "a"))
      .toDF("k1", "k2")
    assert(Pipeline.fromSteps(Seq(Step("expect_unique",
      Map("cols" -> Seq("k1", "k2")))))(comp).count() == 3)
    // the window aggregate can't stream: rejected eagerly by name
    val ns = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Seq(Step("expect_unique",
        Map("cols" -> Seq("doc_id")))))
    }
    assert(ns.getMessage.contains("not streamable"))
    // empty key list names itself at config-compile time
    val empty = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("expect_unique",
        Map("cols" -> Seq.empty[String]))))
    }
    assert(empty.getMessage.contains("non-empty"))
    // a user column that happens to be named __expect_n survives:
    // the gate derives a collision-proof internal name
    val shadow = Seq((1L, "keep-me"), (2L, "also"))
      .toDF("k", "__expect_n")
    val kept = Pipeline.fromSteps(Seq(Step("expect_unique",
      Map("cols" -> Seq("k")))))(shadow)
    assert(kept.columns.toSeq == Seq("k", "__expect_n") &&
      kept.where(col("__expect_n") === "keep-me").count() == 1)
  }

  test("expect_condition is anchored where declared: the assert " +
       "does not push below a join, so rows the join legitimately " +
       "drops never fire the contract") {
    val s = spark
    import s.implicits._
    // k=1 violates v > 0 but has no match on the right: an inner
    // join drops it BEFORE the contract — pushdown below the join
    // would abort a contract-satisfying job
    val left = Seq((1L, -5L), (2L, 7L)).toDF("k", "v")
    val right = Seq(Tuple1(2L)).toDF("k")
    val gated = Pipeline.fromSteps(Seq(Step("expect_condition",
      Map("condition" -> "v > 0", "name" -> "v_pos"))))(
      left.join(right, "k"))
    assert(gated.count() == 1)
    // plan shape: the assert filter sits ABOVE the join in the
    // optimized plan (its subtree contains the join)
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val asserts = gated.queryExecution.optimizedPlan.collect {
      case f: Filter
        if f.condition.toString.contains("plan_anchor") => f
    }
    assert(asserts.nonEmpty, "assert filter missing from plan")
    assert(asserts.exists(_.collect { case j: Join => j }.nonEmpty),
      "assert filter was pushed below the join:\n" +
        gated.queryExecution.optimizedPlan.toString)
    // the anchor is a no-op on semantics: NULL still violates
    def msgs2(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs2(t.getCause)
    val nul = intercept[Exception] {
      Pipeline.fromSteps(Seq(Step("expect_condition",
        Map("condition" -> "cast(null as boolean)",
          "name" -> "nul_gate"))))(left).count()
    }
    assert(msgs2(nul).contains("nul_gate"))
  }

  test("sampling-family steps replay their hand-written twins: " +
       "every config body equals the direct Curation call " +
       "row-for-row") {
    val d = docs.select("doc_id", "lang", "source", "n_chars", "text")
    def hrows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    def eq(step: Step, direct: org.apache.spark.sql.DataFrame,
           in: org.apache.spark.sql.DataFrame = d): Unit = {
      val got = Pipeline.fromSteps(Seq(step))(in)
      assert(hrows(got) == hrows(direct) && direct.count() > 0, step.op)
    }
    eq(Step("stratified_sample",
        Map("strata_cols" -> Seq("lang"), "fraction" -> 0.2,
          "key_cols" -> Seq("doc_id"))),
      Curation.stratifiedSample(d, Seq("lang"), 0.2, Seq("doc_id")))
    eq(Step("resample_to_mixture",
        Map("domain_col" -> "source",
          "weights" -> Map[String, Any]("src0" -> 0.5, "src1" -> 0.3,
            "src2" -> 0.2),
          "key_cols" -> Seq("doc_id"))),
      Curation.resampleToMixture(d, "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        Seq("doc_id")))
    eq(Step("resample_by_temperature",
        Map("domain_col" -> "source", "alpha" -> 0.5,
          "key_cols" -> Seq("doc_id"))),
      Curation.resampleByTemperature(d, "source", 0.5, Seq("doc_id")))
    eq(Step("weighted_sample",
        Map("weight" -> "least(n_chars / 400.0, 1.0)",
          "key_cols" -> Seq("doc_id"))),
      Curation.sampleByWeightedHash(d,
        least(col("n_chars") / 400.0, lit(1.0)), Seq("doc_id")))
    eq(Step("sample_weighted_top_k",
        Map("weight" -> "cast(n_chars as double)", "k" -> 100L,
          "key_cols" -> Seq("doc_id"))),
      Curation.sampleWeightedTopK(d, col("n_chars").cast("double"),
        100, Seq("doc_id")))
    eq(Step("cap_per_group",
        Map("group_cols" -> Seq("source"), "n" -> 50L,
          "key_cols" -> Seq("doc_id"))),
      Curation.capPerGroup(d, Seq("source"), 50, Seq("doc_id")))
    eq(Step("select_by_token_budget",
        Map("budget_tokens" -> 5000L, "domain_cols" -> Seq("source"),
          "quality" -> "cast(n_chars as double)",
          "id_col" -> "doc_id", "tokens" -> "n_chars")),
      Curation.selectByTokenBudget(d, 5000L, Seq("source"),
        col("n_chars").cast("double"), "doc_id", col("n_chars")))
    eq(Step("filter_by_quantile",
        Map("score" -> "cast(n_chars as double)", "q" -> 0.6)),
      Curation.filterByQuantile(d, col("n_chars").cast("double"), 0.6))
    eq(Step("bucket_by_quantile",
        Map("score" -> "cast(n_chars as double)")),
      Curation.bucketByQuantile(d, col("n_chars").cast("double")))
    eq(Step("pack_sequences",
        Map("budget_tokens" -> 2048L, "shard_cols" -> Seq("source"),
          "id_col" -> "doc_id", "text_col" -> "text")),
      Curation.packSequences(d, 2048L, Seq("source"), "doc_id",
        "text"))
    // the path-fed steps: pairs/clusters/benchmark/target tables are
    // persisted and named by path, the psi_drift convention
    val base = java.nio.file.Files
      .createTempDirectory("graft-cfg-sample")
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", n = 3,
      numHashes = 64, bands = 32, threshold = 0.5)
    val pairsPath = base.resolve("pairs").toString
    pairs.write.parquet(pairsPath)
    eq(Step("split_by_cluster",
        Map("id_col" -> "doc_id", "pairs_path" -> pairsPath,
          "weights" -> Seq(Seq("train", 90L), Seq("val", 5L),
            Seq("test", 5L)))),
      Curation.splitByCluster(d, "doc_id", pairs,
        Seq("train" -> 90L, "val" -> 5L, "test" -> 5L)))
    val clustersPath = base.resolve("clusters").toString
    Dedup.nearDupClusters(pairs).write.parquet(clustersPath)
    eq(Step("soft_dedup_sample",
        Map("clusters_path" -> clustersPath)),
      Curation.softDedupSample(
        d.select("doc_id", "lang", "source"),
        Dedup.nearDupClusters(pairs)),
      in = d.select("doc_id", "lang", "source"))
    val benchPath = base.resolve("bench").toString
    docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text")
      .write.parquet(benchPath)
    eq(Step("contamination_flags",
        Map("benchmark_path" -> benchPath, "id_col" -> "doc_id",
          "text_col" -> "text", "min_shared" -> 2L)),
      Curation.contaminationFlags(d,
        spark.read.parquet(benchPath), "doc_id", "text",
        minShared = 2))
    val targetPath = base.resolve("target").toString
    docs.filter(col("source") === "src0").select("doc_id", "text")
      .write.parquet(targetPath)
    eq(Step("importance_weights",
        Map("target_path" -> targetPath, "id_col" -> "doc_id",
          "text_col" -> "text")),
      Curation.importanceWeights(d,
        spark.read.parquet(targetPath), "doc_id", "text"))
  }

  test("reshape/layout steps replay their hand-written twins: " +
       "melt / pivot_agg / cube / rollup / snapshot_diff bodies " +
       "equal the direct calls; layout sinks write real artifacts") {
    import graft.operators.Reshape
    val s = spark
    import s.implicits._
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    def hrows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val melted = Pipeline.fromSteps(Seq(Step("melt",
      Map("id_cols" -> Seq("l_orderkey", "l_linenumber"),
        "value_cols" -> Seq("l_quantity", "l_tax"),
        "var_name" -> "measure", "val_name" -> "amount"))))(li)
    assert(hrows(melted) == hrows(Reshape.melt(li,
      Seq("l_orderkey", "l_linenumber"), Seq("l_quantity", "l_tax"),
      "measure", "amount")) && melted.count() > 0)
    val piv = Pipeline.fromSteps(Seq(Step("pivot_agg",
      Map("group_cols" -> Seq("l_orderkey"),
        "pivot_col" -> "l_returnflag", "agg" -> "sum(l_quantity)",
        "values" -> Seq("A", "N", "R")))))(li)
    assert(hrows(piv) == hrows(Reshape.pivotAgg(li, Seq("l_orderkey"),
      "l_returnflag", expr("sum(l_quantity)"), Seq("A", "N", "R"))))
    val cubed = Pipeline.fromSteps(Seq(Step("cube",
      Map("group_cols" -> Seq("l_returnflag", "l_linestatus"),
        "aggs" -> Seq("sum(l_quantity) AS sum_qty",
          "count(1) AS n")))))(li)
    assert(hrows(cubed) == hrows(
      li.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(expr("sum(l_quantity) AS sum_qty"),
          expr("count(1) AS n"))))
    val rolled = Pipeline.fromSteps(Seq(Step("rollup",
      Map("group_cols" -> Seq("l_returnflag"),
        "aggs" -> Seq("count(1) AS n")))))(li)
    assert(hrows(rolled) == hrows(li.rollup(col("l_returnflag"))
      .agg(expr("count(1) AS n"))))
    // snapshot_diff: old side by path, new side in flight
    val base = java.nio.file.Files
      .createTempDirectory("graft-cfg-layout")
    val oldPath = base.resolve("old").toString
    val snapOld = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val snapNew = Seq((2L, "b2"), (3L, "c")).toDF("k", "v")
    snapOld.write.parquet(oldPath)
    val diffed = Pipeline.fromSteps(Seq(Step("snapshot_diff",
      Map("old_path" -> oldPath, "key_cols" -> Seq("k"),
        "compare_cols" -> Seq("v")))))(snapNew)
    assert(hrows(diffed) == hrows(graft.sources.Layout.snapshotDiff(
      snapOld, snapNew, Seq("k"), Seq("v"))))
    // layout sinks run as complete jobs and leave real artifacts
    val zPath = base.resolve("z").toString
    Pipeline.runJobJson(spark,
      s"""[
         |  {"op": "read_table", "params": {"dir": "$dir",
         |    "table": "lineitem"}},
         |  {"op": "zorder_write",
         |   "params": {"path": "$zPath",
         |              "z_cols": ["l_partkey", "l_suppkey"],
         |              "num_files": 4}}
         |]""".stripMargin)
    assert(spark.read.parquet(zPath).count() == li.count())
    val bPath = base.resolve("bloom").toString
    Pipeline.runJobJson(spark,
      s"""[
         |  {"op": "read_table", "params": {"dir": "$dir",
         |    "table": "documents"}},
         |  {"op": "bloom_filtered_write",
         |   "params": {"path": "$bPath", "bloom_cols": ["doc_id"],
         |              "ndv": 1000}}
         |]""".stripMargin)
    assert(spark.read.parquet(bPath).count() > 0)
    val bkPath = base.resolve("bucketed").toString
    Pipeline.runJobJson(spark,
      s"""[
         |  {"op": "read_parquet", "params": {"path": "$oldPath"}},
         |  {"op": "write_bucketed_snapshot",
         |   "params": {"path": "$bkPath", "key_cols": ["k"],
         |              "n_buckets": 2}}
         |]""".stripMargin)
    assert(spark.read.parquet(bkPath).count() == 2)
    // compact_files: scatter small files, compact via config job
    val cPath = base.resolve("compact").toString
    docs.repartition(16).write.parquet(cPath)
    val before = new java.io.File(cPath).listFiles()
      .count(_.getName.endsWith(".parquet"))
    Pipeline.runJobJson(spark,
      s"""[
         |  {"op": "read_parquet", "params": {"path": "$cPath"}},
         |  {"op": "compact_files",
         |   "params": {"path": "$cPath",
         |              "target_bytes": ${512L << 20}}}
         |]""".stripMargin)
    val after = new java.io.File(cPath).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before == 16 && after < before)
    assert(spark.read.parquet(cPath).count() == docs.count())
  }

  test("events-family steps replay their hand-written twins: " +
       "every config body equals the direct Events call row-for-row") {
    import graft.operators.Events
    val ev = graft.sources.Sources.table(spark, dir, "events")
    def hrows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    def eq(step: Step, direct: org.apache.spark.sql.DataFrame): Unit = {
      val got = Pipeline.fromSteps(Seq(step))(ev)
      assert(hrows(got) == hrows(direct) && direct.count() > 0, step.op)
    }
    eq(Step("retention_cohorts", Map("period_seconds" -> 86400L)),
      Events.retentionCohorts(ev, periodSeconds = 86400L))
    eq(Step("attribution",
        Map("conversion_type" -> "purchase",
          "lookback_seconds" -> 21600L, "model" -> "linear")),
      Events.attributeConversions(ev, "purchase", 21600L, "linear"))
    eq(Step("scd2",
        Map("key_col" -> "user_id", "attr_col" -> "event_type")),
      Events.scd2(ev, "user_id", "event_type"))
    eq(Step("gap_fill", Map("period_seconds" -> 21600L)),
      Events.gapFill(ev, 21600L))
    eq(Step("rolling_anomalies", Map()),
      Events.rollingAnomalies(ev))
    eq(Step("transition_matrix", Map()), Events.transitionMatrix(ev))
    eq(Step("decayed_activity", Map()), Events.decayedActivity(ev))
    eq(Step("inter_arrival_stats", Map()),
      Events.interArrivalStats(ev))
    eq(Step("seasonal_baseline", Map()), Events.seasonalBaseline(ev))
    eq(Step("top_paths", Map("k" -> 3L, "top_n" -> 20L)),
      Events.topPaths(ev, 3, 20))
  }

  test("relational steps: aggregate (grouped + global), join_table " +
       "(using-cols / condition / broadcast hint in-plan), " +
       "union_table, order_by + limit (TakeOrderedAndProject)") {
    val s = spark
    import s.implicits._
    def hrows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    assert(hrows(Pipeline.fromSteps(Seq(Step("aggregate",
      Map("group_cols" -> Seq("l_returnflag"),
        "aggs" -> Seq("count(1) as n")))))(li)) ==
      hrows(li.groupBy(col("l_returnflag")).agg(expr("count(1) as n"))))
    // empty group_cols = global aggregate
    assert(Pipeline.fromSteps(Seq(Step("aggregate",
      Map("group_cols" -> Seq.empty[String],
        "aggs" -> Seq("count(1) as n")))))(li).head.getLong(0) ==
      li.count())
    // join_table: using-columns and condition forms agree
    val base0 = java.nio.file.Files
      .createTempDirectory("graft-cfg-rel")
    val dimPath = base0.resolve("dim").toString
    Seq(("A", 1L), ("N", 2L), ("R", 3L)).toDF("l_returnflag", "code")
      .write.parquet(dimPath)
    val byOn = Pipeline.fromSteps(Seq(Step("join_table",
      Map("path" -> dimPath, "on" -> Seq("l_returnflag")))))(
      li.select("l_orderkey", "l_returnflag"))
    assert(byOn.columns.contains("code") &&
      byOn.count() == li.count())
    val byCond = Pipeline.fromSteps(Seq(Step("join_table",
      Map("path" -> dimPath, "broadcast" -> true,
        "condition" -> "l.l_returnflag = r.l_returnflag"))))(
      li.select("l_orderkey", "l_returnflag"))
    assert(byCond.count() == li.count())
    // the broadcast hint is attached (the optimizer folds the
    // ResolvedHint node into the Join's hint field)
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    assert(byCond.queryExecution.analyzed.toString
      .contains("ResolvedHint"))
    assert(byCond.queryExecution.optimizedPlan.collect {
      case j: LJoin => j.hint.rightHint.isDefined
    }.contains(true))
    // exactly one of on/condition, at compile time
    assertThrows[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("join_table",
        Map("path" -> dimPath))))
    }
    // union_table: by-name survives column reorder
    val otherPath = base0.resolve("other").toString
    Seq((9L, "Z")).toDF("code", "l_returnflag").write.parquet(otherPath)
    val unioned = Pipeline.fromSteps(Seq(Step("union_table",
      Map("path" -> otherPath))))(
      Seq(("A", 1L)).toDF("l_returnflag", "code"))
    assert(hrows(unioned) == Set(Seq("A", 1L), Seq("Z", 9L)))
    // order_by + limit compose into TakeOrderedAndProject
    val topk = Pipeline.fromSteps(Seq(
      Step("order_by", Map("cols" -> Seq("l_extendedprice",
        "l_orderkey"), "descending" -> Seq(true, false))),
      Step("limit", Map("n" -> 5L))))(li)
    topk.collect()
    assert(ScaleOpsSpec.finalPlan(topk).contains("TakeOrderedAndProject"))
  }

  test("embedding steps replay their hand-written twins: " +
       "cosine_topk (queries by path) / sem_dedup / " +
       "embedding_outliers / mean_pool_by_key") {
    import graft.operators.Similarity
    def hrows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val qPath = java.nio.file.Files
      .createTempDirectory("graft-cfg-emb").toString + "/q"
    val queries = emb.filter(col("vec_id") % 50 === 0)
    queries.write.parquet(qPath)
    assert(hrows(Pipeline.fromSteps(Seq(Step("cosine_topk",
      Map("queries_path" -> qPath, "k" -> 5L, "id_col" -> "vec_id"))))(emb)) ==
      hrows(Similarity.bruteForceTopK(emb,
        spark.read.parquet(qPath), "vec_id", "embedding", 5)))
    assert(hrows(Pipeline.fromSteps(Seq(Step("sem_dedup",
      Map("threshold" -> 0.95, "id_col" -> "vec_id"))))(emb)) ==
      hrows(Similarity.semDedup(emb, "vec_id", "embedding", 0.95)))
    assert(hrows(Pipeline.fromSteps(Seq(Step("embedding_outliers",
      Map("id_col" -> "vec_id"))))(emb)) ==
      hrows(Similarity.embeddingOutliers(emb, "vec_id", "embedding")))
    val pooled = Pipeline.fromSteps(Seq(Step("mean_pool_by_key",
      Map("key_col" -> "label"))))(emb)
    assert(hrows(pooled.selectExpr("key", "n_vectors",
        "round(centroid[0], 9) as v0")) ==
      hrows(Similarity.meanPoolByKey(emb, "label", "embedding")
        .selectExpr("key", "n_vectors", "round(centroid[0], 9) as v0")))
  }

  test("in-flight dedup steps replay their hand-written twins: " +
       "near_dup_pairs / simhash_pairs / near_dup_clusters / " +
       "keep_best_of_clusters (pairs by path)") {
    def hrows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val d = docs.select("doc_id", "text", "n_chars")
    val pairs = Dedup.minHashLshPairs(d, "doc_id", "text", n = 3,
      numHashes = 64, bands = 32, threshold = 0.5)
    assert(hrows(Pipeline.fromSteps(Seq(Step("near_dup_pairs",
      Map())))(d)) == hrows(pairs) && pairs.count() > 0)
    assert(hrows(Pipeline.fromSteps(Seq(Step("simhash_pairs",
      Map("hamming_max" -> 4L))))(d)) ==
      hrows(Dedup.simHashPairs(d, "doc_id", "text", hammingMax = 4)))
    assert(hrows(Pipeline.fromSteps(Seq(Step("near_dup_clusters",
      Map())))(pairs)) == hrows(Dedup.nearDupClusters(pairs)))
    val pairsPath = java.nio.file.Files
      .createTempDirectory("graft-cfg-dedup").toString + "/pairs"
    pairs.write.parquet(pairsPath)
    assert(hrows(Pipeline.fromSteps(Seq(Step("keep_best_of_clusters",
      Map("pairs_path" -> pairsPath,
        "priority_col" -> "n_chars"))))(d)) ==
      hrows(Dedup.keepBestOfClusters(d, "doc_id", pairs, "n_chars")))
  }

  test("per-row text-signal steps replay their hand-written twins: " +
       "lang_id / quality_score / fingerprint / keywords_tfidf / " +
       "collocations_pmi; the per-row three stream through configs") {
    def hrows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val d = docs.select("doc_id", "text")
    assert(hrows(Pipeline.fromSteps(Seq(Step("lang_id", Map())))(d)) ==
      hrows(d.withColumn("lang_id",
        TextAnalysis.langIdHeuristic(col("text")))))
    assert(hrows(Pipeline.fromSteps(Seq(Step("quality_score",
      Map("out_col" -> "q"))))(d)) ==
      hrows(d.withColumn("q", TextAnalysis.qualityScore(col("text")))))
    assert(hrows(Pipeline.fromSteps(Seq(Step("fingerprint",
      Map())))(d)) ==
      hrows(d.withColumn("fingerprint",
        TextAnalysis.fingerprint(col("text")))))
    assert(hrows(Pipeline.fromSteps(Seq(Step("keywords_tfidf",
      Map("top_k" -> 3L))))(d)) ==
      hrows(TextAnalysis.keywordsTfIdf(d, topK = 3)))
    assert(hrows(Pipeline.fromSteps(Seq(Step("collocations_pmi",
      Map("min_count" -> 3L, "top_n" -> 10L))))(d)) ==
      hrows(TextAnalysis.collocationsPmi(d, minCount = 3, topN = 10)))
    // the row-local three are streaming-whitelisted; the corpus-level
    // two are batch-only by name
    Pipeline.fromStepsStreaming(Seq(Step("lang_id", Map()),
      Step("quality_score", Map()), Step("fingerprint", Map())))
    val ns = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Seq(Step("keywords_tfidf", Map())))
    }
    assert(ns.getMessage.contains("not streamable"))
  }

  test("crawl-politeness steps replay their hand-written twins: " +
       "parse_robots / robots_gate (rules by path) / parse_sitemaps " +
       "/ recrawl_schedule / frontier_schedule") {
    import graft.operators.{Frontier, Robots, Sitemaps}
    val s = spark
    import s.implicits._
    def hrows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val robots = Seq(
      ("a.example.com",
        "User-agent: *\nAllow: /public/archive/\nDisallow: /public/\n"),
      ("b.example.com", "User-agent: *\nDisallow: /tmp\n"))
      .toDF("host", "body")
    val rules = Robots.parseRobots(robots)
    assert(hrows(Pipeline.fromSteps(Seq(Step("parse_robots",
      Map())))(robots)) == hrows(rules))
    val rulesPath = java.nio.file.Files
      .createTempDirectory("graft-cfg-robots").toString + "/rules"
    rules.write.parquet(rulesPath)
    val urls = Seq(
      Tuple1("https://a.example.com/public/archive/x"),
      Tuple1("https://a.example.com/public/y"),
      Tuple1("https://b.example.com/tmp/z"),
      Tuple1("https://c.example.com/anything")).toDF("url")
    val gated = Pipeline.fromSteps(Seq(Step("robots_gate",
      Map("rules_path" -> rulesPath))))(urls)
    assert(hrows(gated) ==
      hrows(Robots.robotsGate(urls, spark.read.parquet(rulesPath))))
    assert(gated.filter(col("allowed")).count() == 2) // archive + c
    val maps = Seq(("a.example.com",
      "<urlset><url><loc>https://a.example.com/1</loc>" +
        "<changefreq>daily</changefreq></url></urlset>"))
      .toDF("host", "xml")
    val entries = Sitemaps.parseSitemaps(maps)
    assert(hrows(Pipeline.fromSteps(Seq(Step("parse_sitemaps",
      Map())))(maps)) == hrows(entries))
    assert(hrows(Pipeline.fromSteps(Seq(Step("recrawl_schedule",
      Map("now_epoch" -> 1700000000L))))(entries)) ==
      hrows(Sitemaps.recrawlSchedule(entries, 1700000000L)))
    val front = Seq(("h1", "https://h1/a"), ("h1", "https://h1/b"),
      ("h2", "https://h2/c")).toDF("host", "url")
    assert(hrows(Pipeline.fromSteps(Seq(Step("frontier_schedule",
      Map("max_per_host" -> 1L))))(front)) ==
      hrows(Frontier.schedule(front, maxPerHost = 1)))
  }

  test("contract quarantine mode: quarantine_path flips abort to " +
       "store-failures — violations (incl. NULL conditions) land " +
       "under gate=<name>, survivors continue, re-runs overwrite " +
       "their own gate; requires a path-safe name; batch-only") {
    val s = spark
    import s.implicits._
    val q = java.nio.file.Files
      .createTempDirectory("graft-quarantine").toString
    val frame = Seq((1L, 5L), (2L, -3L), (3L, 7L), (4L, -1L))
      .toDF("k", "v")
      .union(Seq((3L, 7L)).toDF("k", "v")) // duplicate key 3
    // expect_condition: two violating rows quarantined, three survive
    val kept = Pipeline.fromSteps(Seq(Step("expect_condition",
      Map("condition" -> "v > 0", "name" -> "v_pos",
        "quarantine_path" -> q))))(frame)
    assert(kept.count() == 3)
    val bad = spark.read.parquet(s"$q/gate=v_pos")
    assert(bad.collect().map(_.getLong(0)).toSet == Set(2L, 4L))
    // NULL condition is a violation in quarantine mode too
    val withNull = Seq((1L, Some(5L)), (2L, None)).toDF("k", "v")
    val kept2 = Pipeline.fromSteps(Seq(Step("expect_condition",
      Map("condition" -> "v > 0", "name" -> "v_pos",
        "quarantine_path" -> q))))(withNull)
    assert(kept2.count() == 1) // re-run overwrote gate=v_pos
    assert(spark.read.parquet(s"$q/gate=v_pos").count() == 1)
    // expect_unique: duplicate-key rows quarantined, unique keys pass
    val uniq = Pipeline.fromSteps(Seq(Step("expect_unique",
      Map("cols" -> Seq("k"), "name" -> "pk",
        "quarantine_path" -> q))))(frame)
    assert(uniq.collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 4L))
    assert(spark.read.parquet(s"$q/gate=pk").count() == 2)
    // two gates coexist under one quarantine path
    assert(spark.read.parquet(s"$q/gate=v_pos").count() == 1)
    // name is REQUIRED and must be path-safe
    val noName = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("expect_condition",
        Map("condition" -> "v > 0", "quarantine_path" -> q))))
    }
    assert(noName.getMessage.contains("name"))
    val badName = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("expect_unique",
        Map("cols" -> Seq("k"), "name" -> "a/b",
          "quarantine_path" -> q))))
    }
    assert(badName.getMessage.contains("path-safe"))
    // the UNGATED streaming compile rejects quarantine mode by
    // PARAM, not by step name — pointing at the unified gated runner
    // that carries the per-batch violation write
    val ns = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Seq(Step("expect_condition",
        Map("condition" -> "v > 0", "name" -> "g",
          "quarantine_path" -> q))))
    }
    assert(ns.getMessage.contains("own source with startStream"))
    Pipeline.fromStepsStreaming(Seq(Step("expect_condition",
      Map("condition" -> "v > 0")))) // abort mode still streams
  }

  test("runJobStepsAudited: the run report counts rows leaving every " +
       "step (observations ride the sink pass — no extra scans), " +
       "matching independently recomputed counts; sink/source " +
       "validation is the runJobSteps contract") {
    val out = java.nio.file.Files
      .createTempDirectory("graft-audit").toString
    val audit = Pipeline.runJobJsonAudited(spark,
      s"""[
         |  {"op": "read_parquet",
         |   "params": {"path": "$dir/documents.parquet"}},
         |  {"op": "token_count",
         |   "params": {"text_col": "text", "out_col": "n_tokens"}},
         |  {"op": "filter", "params": {"condition": "n_tokens >= 30"}},
         |  {"op": "select", "params": {"cols": ["doc_id"]}},
         |  {"op": "write_parquet", "params": {"path": "$out/kept"}}
         |]""".stripMargin)
    val got = audit.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toList
      .sortBy(_._1)
    val total = docs.count()
    val kept = docs
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .filter(col("n_tokens") >= 30).count()
    assert(got == List((0, "read_parquet", total),
      (1, "token_count", total), (2, "filter", kept),
      (3, "select", kept)))
    assert(kept > 0 && kept < total) // the gate genuinely gated
    // the sink really ran: the written output matches the last count
    assert(spark.read.parquet(s"$out/kept").count() == kept)
    // missing sink / unknown source keep the runJobSteps contract
    val noSink = intercept[IllegalArgumentException] {
      Pipeline.runJobJsonAudited(spark,
        s"""[
           |  {"op": "read_parquet",
           |   "params": {"path": "$dir/documents.parquet"}},
           |  {"op": "token_count", "params": {}}
           |]""".stripMargin)
    }
    assert(noSink.getMessage.contains("sink"))
  }

  test("sampling-family step guards: malformed weights object, " +
       "temperature domain-cap, and streaming admission of " +
       "weighted_sample only with a deterministic weight") {
    val s = spark
    import s.implicits._
    // weights must be a {name: number} object
    val badW = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("resample_to_mixture",
        Map("domain_col" -> "source", "weights" -> Seq("src0"),
          "key_cols" -> Seq("doc_id")))))
    }
    assert(badW.getMessage.contains("weights"))
    // the temperature step's distinct-domain cap fails LOUDLY
    val capped = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("resample_by_temperature",
        Map("domain_col" -> "lang", "alpha" -> 0.5,
          "key_cols" -> Seq("doc_id"), "max_domains" -> 2L))))(
        docs.select("doc_id", "lang")).count()
    }
    assert(capped.getMessage.contains("distinct") &&
      capped.getMessage.contains("max"))
    // weighted_sample is streamable — with a deterministic weight
    Pipeline.fromStepsStreaming(Seq(Step("weighted_sample",
      Map("weight" -> "least(n_chars / 400.0, 1.0)",
        "key_cols" -> Seq("doc_id")))))
    val nd = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Seq(Step("weighted_sample",
        Map("weight" -> "rand()", "key_cols" -> Seq("doc_id")))))
    }
    assert(nd.getMessage.contains("non-deterministic"))
    // window/aggregate sampling steps stay batch-only by name
    val ns = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Seq(Step("cap_per_group",
        Map("group_cols" -> Seq("source"), "n" -> 50L,
          "key_cols" -> Seq("doc_id")))))
    }
    assert(ns.getMessage.contains("not streamable"))
  }

  test("host_graph step contracts a link frame through the " +
       "UrlOps.hostOf grammar (userinfo/port/case/scheme handling), " +
       "and src_is_url=false lowercases a host column") {
    import graft.operators.Graph
    val s = spark
    import s.implicits._
    val links = Seq(
      (1L, "https://A.example.com/p1", "https://USER:pw@B.example.com:8443/x"),
      (1L, "https://a.example.com/p1", "http://b.example.com/y#frag"),
      (2L, "https://a.example.com/p2", "http://b.example.com/z"),
      (2L, "https://a.example.com/p2", "mailto:x@y"), // drops: scheme
      (3L, "notaurl", "https://c.example.com/")) // drops: bad src
      .toDF("doc_id", "src_url", "href_abs")
    val got = Pipeline.fromSteps(Seq(Step("host_graph",
        Map("src_col" -> "src_url", "dst_url_col" -> "href_abs"))))(
        links)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      ("a.example.com", "b.example.com", 3L, 2L)))
    // direct call == config step
    val direct = Graph.hostGraph(links, "src_url", "href_abs")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(direct == got)
    // src already a host: case-normalized only
    val hostSide = Graph.hostGraph(
        Seq((1L, "A.Example.COM", "https://b.example.com/"))
          .toDF("doc_id", "src_host", "href_abs"),
        "src_host", "href_abs", srcIsUrl = false)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(hostSide == Set(("a.example.com", "b.example.com")))
    // domain contraction pools subdomains under eTLD+1, incl. the
    // multi-label suffix grammar (shop.example.co.uk -> example.co.uk)
    val domains = Graph.hostGraph(
        Seq((1L, "https://a.news.example.com/p",
            "https://cdn1.other.org/x"),
          (2L, "https://b.news.example.com/p",
            "https://shop.example.co.uk/y"))
          .toDF("doc_id", "src_url", "href_abs"),
        "src_url", "href_abs", toDomain = true)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2))).toSet
    assert(domains == Set(
      ("example.com", "other.org", 1L),
      ("example.com", "example.co.uk", 1L)))
    // the config step exposes the same flag
    val viaCfg = Pipeline.fromSteps(Seq(Step("host_graph",
        Map("src_col" -> "src_url", "dst_url_col" -> "href_abs",
          "to_domain" -> true))))(
        Seq((1L, "https://a.news.example.com/p",
          "https://cdn1.other.org/x"))
          .toDF("doc_id", "src_url", "href_abs"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(viaCfg == Set(("example.com", "other.org")))
  }

  // ---- join-family registry steps ----

  test("join-family steps validate eagerly: unknown params, missing " +
       "required params, a malformed right_filter, and malformed " +
       "right_renames all throw at compile time naming themselves") {
    val good: Seq[(String, Map[String, Any])] = Seq(
      "asof_join" -> Map("path" -> "/tmp/x", "key_col" -> "k",
        "ts_col" -> "ts", "left_cols" -> Seq("a"),
        "right_cols" -> Seq("b")),
      "range_join" -> Map("path" -> "/tmp/x", "key_col" -> "k",
        "ts_col" -> "ts", "lower_seconds" -> 60L,
        "upper_seconds" -> 0L, "left_cols" -> Seq("a"),
        "right_cols" -> Seq("b")),
      "salted_join" -> Map("path" -> "/tmp/x", "on" -> Seq("k"),
        "salt_factor" -> 8L),
      "bloom_join" -> Map("path" -> "/tmp/x", "fact_key" -> "k",
        "dim_key" -> "k2"),
      "key_skew_report" -> Map("keys" -> Seq("k")),
      "salted_stats" -> Map("keys" -> Seq("k"), "value_col" -> "v",
        "salt_factor" -> 4L),
      "bfs_distances" -> Map("src_col" -> "s", "dst_col" -> "d",
        "seed_condition" -> "s % 2 = 0", "seed_col" -> "s",
        "max_hops" -> 3L),
      "shortest_paths" -> Map("src_col" -> "s", "dst_col" -> "d",
        "weight_col" -> "w", "seed_condition" -> "s % 2 = 0",
        "seed_col" -> "s", "max_hops" -> 2L),
      "intersect_table" -> Map("path" -> "/tmp/x"),
      "except_table" -> Map("path" -> "/tmp/x"),
      "harmonic_centrality" -> Map("src_col" -> "s", "dst_col" -> "d"),
      "neighborhood_function" -> Map("src_col" -> "s",
        "dst_col" -> "d"),
      "closeness_centrality" -> Map("src_col" -> "s",
        "dst_col" -> "d"),
      "conform_schema" -> Map("schema" -> "a INT"),
      "coalesce" -> Map("n" -> 1L))
    good.foreach { case (op, params) =>
      val unknown = intercept[IllegalArgumentException] {
        Pipeline.fromSteps(Seq(Step(op, params + ("bogus" -> "v"))))
      }
      assert(unknown.getMessage.contains("unknown params") &&
        unknown.getMessage.contains("bogus"), op)
      val missing = intercept[IllegalArgumentException] {
        Pipeline.fromSteps(Seq(Step(op)))
      }
      assert(missing.getMessage.contains("missing required"), op)
    }
    // a right_filter typo is a COMPILE-time parse error — before any
    // DataFrame flows, like every other config-surfaced expression
    assertThrows[org.apache.spark.sql.catalyst.parser.ParseException] {
      Pipeline.fromSteps(Seq(Step("asof_join",
        good.head._2 + ("right_filter" -> "event_type ==== 'x'"))))
    }
    // malformed right_renames entries name the expected shape
    val badPairs = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("asof_join",
        good.head._2 + ("right_renames" -> Seq(Seq("only_one"))))))
    }
    assert(badPairs.getMessage.contains("[from, to]"))
    // zero-param steps still reject unknown keys
    val dbogus = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("distinct", Map("bogus" -> "v"))))
    }
    assert(dbogus.getMessage.contains("unknown params"))
    // a right_exprs typo is a compile-time parse error too
    assertThrows[org.apache.spark.sql.catalyst.parser.ParseException] {
      Pipeline.fromSteps(Seq(Step("intersect_table",
        Map("path" -> "/tmp/x", "right_exprs" -> Seq("cast(( as int)")))))
    }
  }

  test("apply_functions: the parity core as a step — unknown function " +
       "names throw at config compile; the compiled step equals the " +
       "hand-written Functioniser plan and is stream-whitelisted") {
    // unknown by-name function fails EAGERLY (the add-time discipline)
    val unknownFn = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("apply_functions",
        Map("fields" -> Seq(Seq("c_name", "no_such_fn_xyz"))))))
    }
    assert(unknownFn.getMessage.contains("no_such_fn_xyz"))
    val unknownParam = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("apply_functions",
        Map("fields" -> Seq(Seq("a", "upper")), "bogus" -> "v"))))
    }
    assert(unknownParam.getMessage.contains("unknown params"))
    // equals the hand-written Functioniser on the same frame
    val viaStep = Pipeline.fromSteps(Seq(Step("apply_functions",
      Map("fields" -> Seq(Seq("lang", "upper"),
        Seq("source", "lower"))))))(docs)
      .select("doc_id", "lang", "source")
      .collect().map(_.mkString("|")).toSet
    val direct = new graft.Functioniser()
      .add("lang", "upper").add("source", "lower")
      .apply(docs)
      .select("doc_id", "lang", "source")
      .collect().map(_.mkString("|")).toSet
    assert(viaStep == direct && viaStep.nonEmpty)
    // a stateless projection: accepted by the streaming compiler
    Pipeline.fromStepsStreaming(Seq(Step("apply_functions",
      Map("fields" -> Seq(Seq("lang", "upper"))))))
  }

  test("conform_schema reshapes to the DDL (typed null fill, cast, " +
       "declared order, loud add_missing=false, keep_undeclared); " +
       "repartition/coalesce control layout") {
    val out = Pipeline.fromSteps(Seq(Step("conform_schema",
      Map("schema" -> "doc_id BIGINT, lang STRING, brand_new DOUBLE"))))(
      docs)
    assert(out.columns.toSeq == Seq("doc_id", "lang", "brand_new"))
    assert(out.schema("brand_new").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(out.filter(col("brand_new").isNotNull).count() == 0)
    // a missing column is LOUD when add_missing = false
    val e = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("conform_schema",
        Map("schema" -> "doc_id BIGINT, nope INT",
          "add_missing" -> false))))(docs).collect()
    }
    assert(e.getMessage.contains("nope"))
    // keep_undeclared appends the rest after the declared prefix
    val kept = Pipeline.fromSteps(Seq(Step("conform_schema",
      Map("schema" -> "lang STRING", "keep_undeclared" -> true))))(docs)
    assert(kept.columns.head == "lang" &&
      kept.columns.toSet == docs.columns.toSet)
    // a pure projection: accepted by the streaming compiler
    Pipeline.fromStepsStreaming(Seq(Step("conform_schema",
      Map("schema" -> "lang STRING"))))
    // layout steps land in the executed plan
    val rep = Pipeline.fromSteps(Seq(Step("repartition",
      Map("n" -> 7L, "cols" -> Seq("lang")))))(docs)
    assert(rep.rdd.getNumPartitions == 7)
    val co = Pipeline.fromSteps(Seq(Step("coalesce", Map("n" -> 1L))))(
      docs)
    assert(co.rdd.getNumPartitions == 1)
    val bad = intercept[IllegalArgumentException] {
      Pipeline.fromSteps(Seq(Step("repartition")))
    }
    assert(bad.getMessage.contains("need n and/or cols"))
  }

  test("intersect_table / except_table equal the hand-written set " +
       "ops; conform_schema to the frame's own DDL is the identity") {
    val langs = docs.select("lang")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_setop").toString + "/side.parquet"
    docs.filter(col("source") === "src1").select("lang")
      .write.mode("overwrite").parquet(tmp)
    val side = spark.read.parquet(tmp)
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val viaStep = rows(Pipeline.fromSteps(Seq(Step("intersect_table",
      Map("path" -> tmp))))(langs))
    assert(viaStep == rows(langs.intersect(side)) && viaStep.nonEmpty)
    val exceptStep = rows(Pipeline.fromSteps(Seq(Step("except_table",
      Map("path" -> tmp))))(langs))
    assert(exceptStep == rows(langs.except(side)))
    // intersect ∪ except of the distinct domain = the distinct domain
    assert(viaStep ++ exceptStep == rows(langs.distinct()))
    // conform_schema to the frame's own DDL: identical rows, order,
    // and schema (the no-op safety a blanket-applied contract needs)
    val conformed = Pipeline.fromSteps(Seq(Step("conform_schema",
      Map("schema" -> docs.schema.toDDL))))(docs)
    assert(conformed.schema == docs.schema)
    assert(rows(conformed) == rows(docs))
  }

  test("join-family loaded side: renaming a missing column fails " +
       "loudly, naming the column and the path") {
    val events = spark.read.parquet(s"$dir/events.parquet")
    val fn = Pipeline.fromSteps(Seq(Step("salted_join", Map(
      "path" -> s"$dir/events.parquet",
      "right_renames" -> Seq(Seq("no_such_col", "x")),
      "on" -> Seq("user_id"), "salt_factor" -> 2L))))
    val e = intercept[IllegalArgumentException] {
      fn(events).collect()
    }
    assert(e.getMessage.contains("no_such_col") &&
      e.getMessage.contains("events.parquet"))
  }

  test("asof_join / range_join steps compile to their operators' " +
       "exact chains (purchase <- click self-join)") {
    // through Sources.table like the harness read_table step: the
    // loaded-side NTZ normalization must line up with it
    val events = graft.sources.Sources.table(spark, dir, "events")
    def key(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet

    val purchases = events.filter(col("event_type") === "purchase")
    val clicks = events.filter(col("event_type") === "click")
      .withColumnRenamed("event_id", "click_id")

    val wantAsof = key(graft.operators.AsOfJoin.asOfJoin(
        purchases, clicks, "user_id", "ts",
        Seq("event_id"), Seq("click_id"))
      .select("user_id", "event_id", "click_id"))
    val gotAsof = key(Pipeline.fromJson(
      s"""[
         |  {"op": "filter",
         |   "params": {"condition": "event_type = 'purchase'"}},
         |  {"op": "asof_join",
         |   "params": {"path": "$dir/events.parquet",
         |              "right_filter": "event_type = 'click'",
         |              "right_renames": [["event_id", "click_id"]],
         |              "key_col": "user_id", "ts_col": "ts",
         |              "left_cols": ["event_id"],
         |              "right_cols": ["click_id"]}},
         |  {"op": "select",
         |   "params": {"cols": ["user_id", "event_id", "click_id"]}}
         |]""".stripMargin)(events))
    assert(gotAsof == wantAsof && gotAsof.nonEmpty)

    val wantRange = key(graft.operators.RangeJoin.rangeJoin(
        purchases, clicks, "user_id", "ts", 3600L, 0L,
        Seq("event_id"), Seq("click_id"))
      .select("user_id", "event_id", "click_id"))
    val gotRange = key(Pipeline.fromJson(
      s"""[
         |  {"op": "filter",
         |   "params": {"condition": "event_type = 'purchase'"}},
         |  {"op": "range_join",
         |   "params": {"path": "$dir/events.parquet",
         |              "right_filter": "event_type = 'click'",
         |              "right_renames": [["event_id", "click_id"]],
         |              "key_col": "user_id", "ts_col": "ts",
         |              "lower_seconds": 3600, "upper_seconds": 0,
         |              "left_cols": ["event_id"],
         |              "right_cols": ["click_id"]}},
         |  {"op": "select",
         |   "params": {"cols": ["user_id", "event_id", "click_id"]}}
         |]""".stripMargin)(events))
    assert(gotRange == wantRange && gotRange.nonEmpty)
  }

  test("join-family loaded side: right_filter is predicate-pushed to " +
       "the parquet scan and unused columns prune") {
    val events = graft.sources.Sources.table(spark, dir, "events")
    val out = Pipeline.fromJson(
      s"""[
         |  {"op": "filter",
         |   "params": {"condition": "event_type = 'purchase'"}},
         |  {"op": "asof_join",
         |   "params": {"path": "$dir/events.parquet",
         |              "right_filter": "event_type = 'click'",
         |              "right_renames": [["event_id", "click_id"]],
         |              "key_col": "user_id", "ts_col": "ts",
         |              "left_cols": ["event_id"],
         |              "right_cols": ["click_id"]}}
         |]""".stripMargin)(events)
    out.collect() // finalize AQE so the inspected plan is real
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), " +
      "EqualTo(event_type,click)]"))
    // value/props never reach either scan
    assert(!plan.linesIterator.exists(l =>
      l.contains("ReadSchema") && l.contains("props")))
  }

  // ---- the curation chain: each text kernel once per document ----

  /** A small curation corpus in 4 parquet files: 240 base docs of
    * 60-119 words, then (larger ids) 20 exact copies (every other one
    * with a full-width e, equal only after NFKC), 20 near copies (one
    * word replaced), 15 short docs and 15 repetitive ones. Returns the
    * path and the row count. */
  private lazy val curationCorpus: (String, Long) = {
    val rnd = new scala.util.Random(7L)
    val vocab = (0 until 3000).map(i => Integer.toString(i * 7919 + 13, 36))
    def words(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val base = (0 until 240).map(_ => words(60 + rnd.nextInt(60)))
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String)]
    base.zipWithIndex.foreach { case (w, i) =>
      rows += ((i.toLong, w.mkString(" "), "web")) }
    def add(text: String, source: String) =
      rows += ((1000L + rows.size, text, source))
    (0 until 20).foreach { i =>
      val t = base(i).mkString(" ")
      add(if (i % 2 == 0) t.replace("e", "\uFF45") else t, "copy")
    }
    (20 until 40).foreach(i =>
      add(base(i).updated(5, s"zzuniq$i").mkString(" "), "near"))
    (0 until 15).foreach(_ => add(words(3 + rnd.nextInt(15)).mkString(" "),
      "short"))
    (0 until 15).foreach { _ =>
      val phrase = words(4 + rnd.nextInt(4))
      add(Seq.fill(15)(phrase).flatten.mkString(" "), "repetitive")
    }
    val s = spark
    import s.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-curation")
      .toString + "/corpus"
    rows.toSeq.toDF("doc_id", "text", "source").repartition(4)
      .write.parquet(path)
    (path, rows.size.toLong)
  }

  private def curationJob(in: String, out: String,
                          sinkMode: String = "overwrite"): String =
    s"""[
       |  {"op": "read_parquet", "params": {"path": "$in"}},
       |  {"op": "normalize_text",
       |   "params": {"passthrough_cols": ["source"]}},
       |  {"op": "drop_exact_duplicates", "params": {"text_col": "text_norm"}},
       |  {"op": "drop_near_duplicates", "params": {"text_col": "text_norm"}},
       |  {"op": "token_count", "params": {"text_col": "text_norm"}},
       |  {"op": "dup_ngram_fraction",
       |   "params": {"n": 3, "text_col": "text_norm"}},
       |  {"op": "gopher_repetition_flags",
       |   "params": {"text_col": "text_norm", "passthrough_cols":
       |              ["text_norm", "source", "n_tokens", "dup3"]}},
       |  {"op": "filter",
       |   "params": {"condition": "keep AND n_tokens >= 50 AND dup3 < 0.2"}},
       |  {"op": "write_parquet", "params": {"path": "$out", "mode": "$sinkMode"}}
       |]""".stripMargin

  private def tempOut(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/out"

  /** Every physical node a finished plan runs: AQE's final plan, query
    * stages, and each cached relation's plan once (however many scans
    * read it); a reused exchange is counted where it was built. */
  private def planNodes(root: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val cached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case c: CommandResultExec => c +: walk(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case m: InMemoryTableScanExec =>
        m +: (if (cached.add(m.relation.cacheBuilder))
                walk(m.relation.cachedPlan) else Nil)
      case other => other +: other.children.flatMap(walk)
    }
    walk(root)
  }

  private def kernelCount(nodes: Seq[org.apache.spark.sql.execution.SparkPlan],
                          name: String): Int =
    nodes.flatMap(_.expressions)
      .map(_.collect { case e if e.prettyName == name => e }.size).sum

  test("curation job: each text kernel runs once per document — the " +
       "input is read once, normalize_text and ngram_char_fractions " +
       "appear once in the executed plan, no filter below the " +
       "anti-join calls either") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val (in, n) = curationCorpus
    val sc = spark.sparkContext
    var recordsRead = 0L
    val tasks = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) synchronized {
          recordsRead += e.taskMetrics.inputMetrics.recordsRead
        }
    }
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val queries = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    sc.addSparkListener(tasks)
    spark.listenerManager.register(queries)
    val out = tempOut("graft-curation-once")
    try {
      Pipeline.runJobJson(spark, curationJob(in, out))
      org.apache.spark.sql.graftext.SparkInternals.drainListenerBus(sc)
    } finally {
      sc.removeSparkListener(tasks)
      spark.listenerManager.unregister(queries)
    }
    // every planted duplicate, short and repetitive doc is gone
    assert(spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).toSet == (0L until 240L).toSet)
    val write = plans.synchronized(plans.toList).map(planNodes).filter(
      _.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.command.DataWritingCommandExec]))
    assert(write.size == 1, plans.mkString("\n"))
    val nodes = write.head
    // the parquet scan produced each input row once, and the task
    // input counters read the input once (a cached block read adds
    // one record per columnar batch, not per row)
    val scanned = nodes.collect { case s: FileSourceScanExec =>
      s.metrics("numOutputRows").value }
    assert(scanned.size == 1 && scanned.sum == n, scanned)
    assert(recordsRead >= n && recordsRead < n + 64, recordsRead)
    assert(kernelCount(nodes, "normalize_text") == 1)
    assert(kernelCount(nodes, "ngram_char_fractions") == 1)
    val antiJoins = nodes.collect {
      case j: BaseJoinExec if j.joinType == LeftAnti => j }
    assert(antiJoins.nonEmpty)
    antiJoins.foreach { j =>
      val pushed = planNodes(j).collect { case f: FilterExec => f }
        .filter(f => kernelCount(Seq(f), "normalize_text") +
          kernelCount(Seq(f), "ngram_char_fractions") > 0)
      assert(pushed.isEmpty, pushed.mkString("\n"))
    }
  }

  test("curation job: the frame drop_near_duplicates persists is " +
       "released when the job returns and when its sink fails") {
    val (in, _) = curationCorpus
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    def released(): Unit = {
      assert(cache.isEmpty)
      assert((spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore)
        .isEmpty)
    }
    Pipeline.runJobJson(spark, curationJob(in, tempOut("graft-release")))
    released()
    // a sink that fails: appending under a path that is a regular file
    val file = java.nio.file.Files.createTempFile("graft-release", ".txt")
    intercept[Exception] {
      Pipeline.runJobJson(spark, curationJob(in, file.toString, "append"))
    }
    released()
    // a frame-returning entry point keeps the lazy plan: nothing cached
    val steps = Pipeline.parse(curationJob(in, "unused"))
    val frame = Pipeline.runSteps(spark, steps.dropRight(1))
    assert(cache.isEmpty && frame.count() == 240)
  }

  test("curation job output is identical under shuffle partitions 1, " +
       "7 and 64, with AQE on and off") {
    val (in, _) = curationCorpus
    val conf = spark.conf
    val saved = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .map(k => k -> conf.getOption(k))
    def output(): Seq[String] = {
      val out = tempOut("graft-invariance")
      Pipeline.runJobJson(spark, curationJob(in, out))
      spark.read.parquet(out).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    }
    try {
      val runs = for (parts <- Seq(1, 7, 64); aqe <- Seq(true, false)) yield {
        conf.set("spark.sql.shuffle.partitions", parts.toLong)
        conf.set("spark.sql.adaptive.enabled", aqe)
        (parts, aqe) -> output()
      }
      val (_, first) = runs.head
      assert(first.size == 240)
      runs.foreach { case (setting, rows) =>
        assert(rows == first, s"output differs under $setting") }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
