package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Pipeline, Similarity}
import graft.operators.Pipeline.Step
import graft.sources.Layout

/** One row per streaming sink, pinned: every `Pipeline.streamSinkOps`
  * entry has a row in [[table]]. A row feeds its input through the
  * registry sink (`Pipeline.startStream` over a `MemoryStream`) in two
  * chunks, then — for a replay-idempotent sink — a third chunk that
  * re-sends rows already delivered, and compares the artifact the
  * stream left with what the batch sink or operator makes of the
  * union. */
class StreamSinkSpec extends AnyFunSuite {
  import SparkTestSession._
  import StreamParitySpec.multiset
  import StreamSinkSpec.{Files, Sink}

  private val root = java.nio.file.Files
    .createTempDirectory("graft-stream-sinks").toString

  // ---- inputs ----

  private def documents(n: Int): DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text").orderBy("doc_id").limit(n)

  private def embeddings(): DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding").orderBy("vec_id").limit(120)

  private def frame(schema: String, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, StructType.fromDDL(schema))

  private val changeSchema =
    "id BIGINT, seq BIGINT, op STRING, s STRING, v INT"

  /** A snapshot carrying `seq`, the stale guard's contract. */
  private def snapshot(): DataFrame = frame(
    "id BIGINT, s STRING, v INT, seq BIGINT",
    Row(1L, "a", 10, 0L), Row(2L, "b", 20, 0L), Row(3L, "c", 30, 0L))

  /** Chunk 1 (`snapshotChunk`) updates 2, inserts 5 and deletes 3;
    * chunk 2 brings a STALE change to 2 (seq 1 below the applied 2)
    * and an update to 1. */
  private def snapshotChanges(): DataFrame = frame(changeSchema,
    Row(2L, 2L, "upsert", "b2", 21), Row(5L, 1L, "upsert", "e", 50),
    Row(3L, 2L, "delete", null, 0),
    Row(2L, 1L, "upsert", "STALE", 99), Row(1L, 5L, "upsert", "a2", 11))

  private val snapshotChunk = "id IN (3, 5) OR seq = 2"

  /** 400 keys, so most of the 16 buckets stay untouched by the
    * changes. */
  private def wideSnapshot(): DataFrame = spark.range(400).select(
    col("id"), concat(lit("v"), col("id")).as("s"),
    col("id").cast("int").as("v"), lit(0L).as("seq"))

  /** Chunk 1 (seq 1) updates 7, inserts 401 and deletes 9; chunk 2 is
    * one change to 7 at seq 0 — fully stale. */
  private def bucketedChanges(): DataFrame = frame(changeSchema,
    Row(7L, 1L, "upsert", "seven", 77), Row(401L, 1L, "upsert", "new", 1),
    Row(9L, 1L, "delete", null, 0), Row(7L, 0L, "upsert", "STALE", 0))

  // ---- batch sides ----

  /** Run the batch sink `op` over `df` as a job config that reads `df`
    * back from parquet. */
  private def batchSink(dir: String, df: DataFrame, op: String,
                        params: Map[String, Any]): Unit = {
    val in = s"$dir/input_$op"
    df.write.mode("overwrite").parquet(in)
    Pipeline.runJobSteps(spark,
      Seq(Step("read_parquet", Map("path" -> in)), Step(op, params)))
  }

  /** A registry source step's frame. */
  private def source(op: String, params: Map[String, Any]): DataFrame =
    Pipeline.runSteps(spark, Seq(Step(op, params)))

  /** A registry step over `df`. */
  private def step(df: DataFrame, op: String,
                   params: Map[String, Any]): DataFrame =
    Pipeline.fromSteps(Seq(Step(op, params)))(df)

  private val qs = Seq(0.1, 0.5, 0.9)

  private def queries(): DataFrame = frame("query_id BIGINT, qtext STRING",
    Row(0L, "spark join fast"), Row(1L, "customer order"))

  private def annQueries(): DataFrame = embeddings().filter("vec_id % 17 = 0")

  /** A top-k frame with its cosine rounded to 1e-6. */
  private def rounded(topK: DataFrame): DataFrame = topK.select(
    col("query_id"), col("neighbor_id"), col("rank"),
    round(col("cosine"), 6).as("cosine"))

  /** Files under `dir` by relative path: (size, modification time). */
  private def files(dir: String): Files = {
    val base = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(base)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => base.relativize(f).toString ->
        ((f.toFile.length, f.toFile.lastModified))).toMap
    finally walk.close()
  }

  /** A swap leaves no `<name>__<tag>_tmp` / `_old` sibling behind. */
  private def noSwapDebris(dir: String): Unit = {
    val left = new java.io.File(dir).list().toSeq
    assert(!left.exists(_.contains("__")), left.toString)
  }

  // ---- the table ----

  private val table: Seq[Sink] = Seq(
    Sink("write_stream_parquet",
      d => Map("path" -> s"$d/out", "checkpoint" -> s"$d/ck"),
      () => documents(40), "doc_id % 2 = 0",
      artifact = d => spark.read.parquet(s"$d/out"),
      batch = (d, in) => {
        batchSink(d, in, "write_parquet", Map("path" -> s"$d/direct"))
        spark.read.parquet(s"$d/direct")
      }),
    Sink("write_stream_memory", _ => Map("name" -> "stream_sink_memory"),
      () => documents(40), "doc_id % 2 = 0",
      artifact = _ => spark.table("stream_sink_memory"),
      batch = (_, in) => in),
    // replayed changes and the stale one are no-ops: the snapshot equals
    // the batch merge of every change, where the latest seq wins. The
    // snapshot starts parked where a crash inside the swap leaves it,
    // so the first micro-batch must restore it before reading it.
    Sink("merge_stream_snapshot",
      d => Map("snapshot_path" -> s"$d/snap", "checkpoint" -> s"$d/ck",
        "key_cols" -> Seq("id")),
      () => snapshotChanges(), snapshotChunk, resend = "id IN (3, 5)",
      setup = d =>
        snapshot().coalesce(1).write.parquet(s"$d/snap__merge_old"),
      artifact = d => spark.read.parquet(s"$d/snap"),
      batch = (_, in) => Layout.applyChanges(snapshot(), in, Seq("id")),
      check = (d, _) => noSwapDebris(d)),
    // each batch rewrites only its keys' buckets: the others stay
    // bit-stable, and the stale batch and the replay rewrite nothing
    Sink("merge_stream_snapshot",
      d => Map("snapshot_path" -> s"$d/snap", "checkpoint" -> s"$d/ck",
        "key_cols" -> Seq("id"), "n_buckets" -> 16L),
      () => bucketedChanges(), "seq = 1",
      resend = "seq = 1 AND op = 'upsert'",
      setup = d => batchSink(d, wideSnapshot(), "write_bucketed_snapshot",
        Map("path" -> s"$d/snap", "key_cols" -> Seq("id"),
          "n_buckets" -> 16L)),
      artifact = d => spark.read.parquet(s"$d/snap").drop("__bucket"),
      batch = (_, in) => Layout.applyChanges(wideSnapshot(), in, Seq("id")),
      observe = d => files(s"$d/snap"),
      check = (d, readings) => {
        val Seq(before, first, stale, replay) = readings
        assert(stale == first, "the stale batch rewrote a file")
        assert(replay == first, "the replayed batch rewrote a file")
        val touched = (before.keySet ++ first.keySet)
          .filter(f => f.contains('/') && before.get(f) != first.get(f))
          .map(_.takeWhile(_ != '/'))
        assert(touched.nonEmpty && touched.size <= 3, touched.toString)
        noSwapDebris(d)
      },
      label = "bucketed"),
    // the store grows duplicate-free through the replay and heals the
    // orphan shingle row a mid-append crash left: its bands equal the
    // store built in one pass over every document
    Sink("append_stream_signature_store",
      d => Map("store_path" -> s"$d/store", "checkpoint" -> s"$d/ck"),
      () => documents(90).filter("doc_id % 3 != 0"), "doc_id % 2 = 0",
      resend = "doc_id % 5 = 0",
      setup = d => {
        batchSink(d, documents(90), "write_signature_store",
          Map("path" -> s"$d/direct"))
        batchSink(d, documents(90).filter("doc_id % 3 = 0"),
          "write_signature_store", Map("path" -> s"$d/store"))
        // the mid-append crash: one incoming document already has its
        // shingle row but no bands
        val orphan = documents(90).filter("doc_id % 3 != 0")
          .select("doc_id").head().getLong(0)
        val row = spark.read.parquet(s"$d/direct/shingles")
          .filter(col("id") === orphan)
        assert(row.count() == 1)
        row.write.mode("append").parquet(s"$d/store/shingles")
      },
      artifact = d => spark.read.parquet(s"$d/store/bands"),
      batch = (d, _) => spark.read.parquet(s"$d/direct/bands"),
      check = (d, _) => {
        val shingleIds = spark.read.parquet(s"$d/store/shingles")
          .groupBy("id").count().collect()
        assert(shingleIds.forall(_.getLong(1) == 1))
        assert(shingleIds.map(_.getLong(0)).toSet ==
          documents(90).select("doc_id").collect().map(_.getLong(0)).toSet)
        val probe = documents(90).filter("doc_id % 7 = 0").select(
          (col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" tail")).as("text"))
        def pairs(store: String) = Dedup
          .minHashLshPairsAgainstStore(probe, store, "doc_id", "text", 0.4)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            math.round(r.getDouble(2) * 1e6))).toSet
        assert(pairs(s"$d/store") == pairs(s"$d/direct") &&
          pairs(s"$d/store").nonEmpty)
      }),
    // the grown index answers exact-regime (nprobe = nlist) probes like
    // brute force over every vector; re-sent ids add no rows
    Sink("append_stream_ann_index",
      d => Map("index_path" -> s"$d/idx", "centroids_path" -> s"$d/cents",
        "checkpoint" -> s"$d/ck"),
      () => embeddings().filter("vec_id % 3 != 0"), "vec_id % 2 = 0",
      resend = "vec_id % 5 = 0",
      setup = d => batchSink(d, embeddings().filter("vec_id % 3 = 0"),
        "build_ann_index", Map("index_path" -> s"$d/idx",
          "centroids_path" -> s"$d/cents", "id_col" -> "vec_id",
          "nlist" -> 4L, "lloyd_iters" -> 1L)),
      artifact = d => rounded(step(annQueries(), "ann_topk_indexed",
        Map("index_path" -> s"$d/idx", "centroids_path" -> s"$d/cents",
          "id_col" -> "vec_id", "k" -> 5L, "nprobe" -> 4L))),
      batch = (_, _) => rounded(Similarity.bruteForceTopK(embeddings(),
        annQueries(), "vec_id", "embedding", k = 5)),
      check = (d, _) => {
        val idx = spark.read.parquet(s"$d/idx")
        assert(idx.count() == idx.select("neighbor_id").distinct().count())
      }),
    Sink("write_stream_quantile_shards",
      d => Map("path" -> s"$d/shards", "checkpoint" -> s"$d/ck",
        "value_col" -> "score", "shard_cols" -> Seq("lang")),
      () => documents(80).withColumn("score", col("doc_id") % 97),
      "doc_id < 30",
      artifact = d => source("quantiles_from_shards",
        Map("path" -> s"$d/shards", "qs" -> qs)),
      batch = (d, in) => {
        batchSink(d, in, "write_quantile_shards", Map("path" -> s"$d/direct",
          "value_col" -> "score", "shard_cols" -> Seq("lang")))
        source("quantiles_from_shards", Map("path" -> s"$d/direct", "qs" -> qs))
      }),
    Sink("write_stream_profile_shards",
      d => Map("path" -> s"$d/shards", "checkpoint" -> s"$d/ck",
        "cols" -> Seq("doc_id"), "shard_cols" -> Seq("lang")),
      () => documents(80), "doc_id % 2 = 0",
      artifact = d => source("profile_from_shards",
        Map("path" -> s"$d/shards", "cols" -> Seq("doc_id"))),
      batch = (d, in) => {
        batchSink(d, in, "write_profile_shards", Map("path" -> s"$d/direct",
          "cols" -> Seq("doc_id"), "shard_cols" -> Seq("lang")))
        source("profile_from_shards",
          Map("path" -> s"$d/direct", "cols" -> Seq("doc_id")))
      }),
    // values re-seen across micro-batches collapse by max-merge, where a
    // per-batch count(DISTINCT) sum would count them twice
    Sink("write_stream_cardinality_shards",
      d => Map("path" -> s"$d/shards", "checkpoint" -> s"$d/ck",
        "cols" -> Seq("doc_id", "lang"), "shard_cols" -> Seq("lang")),
      () => documents(80), "doc_id % 2 = 0", resend = "doc_id % 3 = 0",
      artifact = d => source("cardinality_from_shards",
        Map("path" -> s"$d/shards", "cols" -> Seq("doc_id", "lang"))),
      batch = (d, in) => {
        batchSink(d, in, "write_cardinality_shards",
          Map("path" -> s"$d/direct", "cols" -> Seq("doc_id", "lang"),
            "shard_cols" -> Seq("lang")))
        source("cardinality_from_shards",
          Map("path" -> s"$d/direct", "cols" -> Seq("doc_id", "lang")))
      }),
    // probes over the folded index equal an index built over the union;
    // re-sent ids are no-ops, not a corrupt merge
    Sink("merge_stream_search_index",
      d => Map("index_path" -> s"$d/idx", "checkpoint" -> s"$d/ck"),
      () => documents(60).filter("doc_id % 3 != 0").select("doc_id", "text"),
      "doc_id % 3 = 1", resend = "doc_id % 3 = 1 AND doc_id < 20",
      setup = d => batchSink(d,
        documents(60).filter("doc_id % 3 = 0").select("doc_id", "text"),
        "write_search_index", Map("path" -> s"$d/idx")),
      artifact = d => step(queries(), "bm25_from_index",
        Map("index_path" -> s"$d/idx", "k" -> 5L)),
      batch = (d, _) => {
        batchSink(d, documents(60).select("doc_id", "text"),
          "write_search_index", Map("path" -> s"$d/direct"))
        step(queries(), "bm25_from_index",
          Map("index_path" -> s"$d/direct", "k" -> 5L))
      },
      check = (d, _) => noSwapDebris(d)))

  // ---- the checks ----

  table.zipWithIndex.foreach { case (r, i) =>
    test(s"stream sink == batch: ${r.title}") {
      val s = spark
      implicit val ctx = s.sqlContext
      val dir = s"$root/$i"
      r.setup(dir)
      val raw = r.input()
      val in = s.createDataFrame(raw.collect().toSeq.asJava, raw.schema)
      val chunks = Seq(r.chunk, s"NOT (${r.chunk})", r.resend)
        .map(c => in.filter(c).collect().toSeq)
      assert(chunks.take(2).forall(_.nonEmpty), s"${r.title}: a chunk is empty")
      implicit val enc: org.apache.spark.sql.Encoder[Row] =
        Encoders.row(in.schema)
      val input = MemoryStream[Row]
      val readings = Seq.newBuilder[Files]
      readings += r.observe(dir)
      val q = Pipeline.startStream(input.toDF(), Seq(Step(r.op, r.params(dir))))
      try {
        chunks.filter(_.nonEmpty).foreach { c =>
          input.addData(c)
          q.processAllAvailable()
          readings += r.observe(dir)
        }
      } finally q.stop()
      val got = r.artifact(dir)
      val batch = r.batch(dir, in).select(got.columns.map(col).toIndexedSeq: _*)
      assert(multiset(got).nonEmpty, s"${r.title}: the artifact is empty")
      assert(multiset(got) == multiset(batch), r.title)
      r.check(dir, readings.result())
    }
  }

  test("every streaming sink has a sink-table row") {
    val titles = table.map(_.title)
    assert(titles.distinct == titles, "duplicate sink rows")
    val missing = Pipeline.streamSinkOps.keys.toSeq
      .filterNot(table.map(_.op).contains).sorted
    assert(missing.isEmpty,
      s"streaming sinks without a sink-table row: " +
        s"${missing.mkString(", ")} — add a Sink row for each to " +
        "StreamSinkSpec.table")
  }
}

object StreamSinkSpec {
  /** Files under a directory by relative path: (size, modified). */
  type Files = Map[String, (Long, Long)]

  /** A sink row. `params` are the sink step's, given the row's fresh
    * directory; `input` is fed in two chunks (`chunk` true, then
    * false), then the rows `resend` selects again. `setup` writes the
    * artifact the stream grows from, `artifact` reads what the stream
    * left, and `batch` is the batch sink or operator over the input.
    * `observe` lists the artifact's files after the setup and after
    * each chunk, and `check` asserts on the directory and those
    * readings beyond the equality. `label` tells apart several rows of
    * one sink. */
  final case class Sink(
      op: String, params: String => Map[String, Any],
      input: () => DataFrame, chunk: String, resend: String = "false",
      setup: String => Unit = _ => (),
      artifact: String => DataFrame,
      batch: (String, DataFrame) => DataFrame,
      observe: String => Files = _ => Map.empty,
      check: (String, Seq[Files]) => Unit = (_, _) => (),
      label: String = "") {
    def title: String = if (label.isEmpty) op else s"$op ($label)"
  }
}
