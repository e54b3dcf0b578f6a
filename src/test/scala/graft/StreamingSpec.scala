package graft

import java.sql.Timestamp

import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** Top-level so the encoder's generated code can call the accessors —
  * a class-nested case class makes Janino fail and every MemoryStream
  * row fall back to interpreted projection. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

case class LangDoc(doc_id: Long, lang: String, text: String)

case class GzDoc(doc_id: Long, blob: Array[Byte])

case class CdcChg(id: Long, seq: Long, op: String, s: String, v: Int)

/** Structured Streaming behavior: the parity engine is a stateless
  * projection and runs unchanged on streams; stateful ops are watermarked. */
class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  /** One config step compiled for a stream. */
  private def configStream(op: String, params: (String, Any)*)
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    graft.operators.Pipeline.fromStepsStreaming(Seq(
      graft.operators.Pipeline.Step(op, params.toMap)))

  test("Functioniser applies to a streaming DataFrame unchanged") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("id", "name")
    val out = new Functioniser()
      .add("name", "upper")
      .add("tagged", (_: Column) => concat(col("name"), lit("!")))
      .apply(stream)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("fn_stream")
      .outputMode("append").start()
    input.addData((1L, "ada"), (2L, "grace"))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql("select * from fn_stream order by id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1L, "ADA", "ada!"), (2L, "GRACE", "grace!")))
  }

  test("gopherGateStream emits the batch gopherQualityFlags rows per micro-batch") {
    import StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // real corpus text so every rule path (words, symbols, stopwords,
    // bullets) is exercised with non-trivial values, streamed in two
    // out-of-order chunks — the gate is stateless, so arrival order
    // must not matter
    val docsDf = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(60)
    def tsOf(id: Long) =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime +
        (id * 17 % 89) * 60000L)
    val docs = docsDf.select("doc_id", "text").collect()
      .map(r => StreamDoc(r.getLong(0), r.getString(1), tsOf(r.getLong(0))))
    val batch = graft.operators.TextAnalysis
      .gopherQualityFlags(docsDf, minStopwords = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7),
        r.getBoolean(8))).toSet
    val input = MemoryStream[StreamDoc]
    val out = configStream("gopher_quality_flags",
      "min_stopwords" -> 1L, "passthrough_cols" -> Seq("ts"))(input.toDF())
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    (0 until 2).foreach { c =>
      input.addData(docs.filter(_.doc_id % 2 == c).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = s.sql("select * from gopher_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getLong(7),
        r.getBoolean(8))).toSet
    assert(streamed == batch && streamed.nonEmpty)
    // ts passes through for downstream windowing
    val tsRows = s.sql("select doc_id, ts from gopher_stream").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(docs.forall(d => tsRows(d.doc_id) == d.ts))
  }

  test("gapFillStream emits the batch grid rows as the watermark finalizes buckets") {
    import graft.streaming.StreamOps.{GapEvent, GapOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val evDf = graft.sources.Sources
      .table(s, "/root/testdata/sf0.001", "events")
      .filter(col("user_id") < 10)
      .select("event_id", "ts", "user_id", "value")
    val batch = graft.operators.Events.gapFill(evDf, periodSeconds = 21600L)
      .collect()
      .map(r => GapOut(r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val rows = evDf.collect()
      .map(r => GapEvent(r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Timestamp]("ts"), r.getAs[Double]("value")))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[GapEvent]
    val out = StreamOps.gapFillStream(
      input.toDF().withWatermark("ts", "0 seconds").as[GapEvent],
      periodSeconds = 21600L)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("gap_stream")
      .outputMode("append").start()
    // time-ordered chunks, each internally reversed: bucket
    // representatives must not depend on arrival order
    val third = (rows.length + 2) / 3
    rows.grouped(third).foreach { chunk =>
      input.addData(chunk.reverse.toSeq: _*)
      q.processAllAvailable()
    }
    // the sentinel finalizes every real bucket (its own bucket stays
    // pending, and a fresh user's single bucket emits observed-only)
    input.addData(GapEvent(999999L, 999999L,
      Timestamp.valueOf("2030-01-01 00:00:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from gap_stream").as[GapOut]
      .collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(batch.exists(!_.observed)) // real gaps were interpolated
  }

  test("rollingAnomaliesStream flags byte-identical rows to the batch operator") {
    import graft.streaming.StreamOps.{AnomEvent, AnomOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val evDf = graft.sources.Sources
      .table(s, "/root/testdata/sf0.001", "events")
      .filter(col("user_id") < 15)
      .select("event_id", "ts", "user_id", "value")
    val batch = graft.operators.Events
      .rollingAnomalies(evDf, nPrior = 5, minPrior = 3, zThreshold = 1.5)
      .collect()
      .map(r => AnomOut(r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4))).toSet
    val rows = evDf.collect()
      .map(r => AnomEvent(r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Timestamp]("ts"), r.getAs[Double]("value")))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[AnomEvent]
    val out = StreamOps.rollingAnomaliesStream(
      input.toDF().withWatermark("ts", "0 seconds").as[AnomEvent],
      nPrior = 5, minPrior = 3, zThreshold = 1.5)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("anom_stream")
      .outputMode("append").start()
    // three time-ordered arrival chunks, each internally REVERSED: the
    // buffer must restore chronological order before scoring
    val third = (rows.length + 2) / 3
    rows.grouped(third).foreach { chunk =>
      input.addData(chunk.reverse.toSeq: _*)
      q.processAllAvailable()
    }
    // sentinel advances the watermark past every real event
    input.addData(AnomEvent(999999L, 999999L,
      Timestamp.valueOf("2030-01-01 00:00:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from anom_stream").as[AnomOut]
      .collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("blendQualityStream scores micro-batches like the batch blendQuality") {
    import StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val docsDf = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(60)
    // bounds fit once on the reference corpus, shared by both forms
    val stats = graft.operators.TextAnalysis.fitQualityStats(docsDf)
    def tsOf(id: Long) =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime +
        (id * 13 % 67) * 60000L)
    val docs = docsDf.select("doc_id", "text").collect()
      .map(r => StreamDoc(r.getLong(0), r.getString(1), tsOf(r.getLong(0))))
    val batch = graft.operators.TextAnalysis.blendQuality(docsDf, stats)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toSet
    val input = MemoryStream[StreamDoc]
    val out = graft.operators.TextAnalysis.blendQuality(input.toDF(), stats,
      passthroughCols = Seq("ts"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("blend_stream")
      .outputMode("append").start()
    // two out-of-order chunks: a stateless projection must not care
    (0 until 2).foreach { c =>
      input.addData(docs.filter(_.doc_id % 2 == c).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = s.sql("select * from blend_stream").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toSet
    assert(streamed == batch && streamed.nonEmpty)
    val tsRows = s.sql("select doc_id, ts from blend_stream").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(docs.forall(d => tsRows(d.doc_id) == d.ts))
  }

  test("scoreLogisticStream scores micro-batches exactly like the " +
    "batch scorer, out of order") {
    import StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val docsDf = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(80)
    val wts = graft.operators.TextClassify.trainLogisticHashed(
      docsDf.withColumn("is_en", org.apache.spark.sql.functions.col("lang") === "en"),
      "doc_id", "text", "is_en", dim = 16, iters = 2)
    val batch = graft.operators.TextClassify
      .scoreLogisticHashed(docsDf, wts)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the inline fold agrees with the batch join/agg form bit-for-bit
    val inline = graft.operators.TextClassify
      .scoreLogisticInline(docsDf, wts)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(inline == batch)
    def tsOf(id: Long) =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime +
        (id * 7 % 53) * 60000L)
    val docs = docsDf.select("doc_id", "text").collect()
      .map(r => StreamDoc(r.getLong(0), r.getString(1), tsOf(r.getLong(0))))
    val input = MemoryStream[StreamDoc]
    val out = graft.operators.TextClassify.scoreLogisticInline(
      input.toDF(), wts, "doc_id", "text", passthroughCols = Seq("ts"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("logreg_stream")
      .outputMode("append").start()
    (0 until 2).foreach { c =>
      input.addData(docs.filter(_.doc_id % 2 == c.toLong).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = s.sql("select doc_id, p from logreg_stream").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("madGateStream gates micro-batches with batch-fit thresholds") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ref = Seq(10.0, 11.0, 12.0, 13.0, 100.0).toDF("v")
    val (med, scaled) = graft.operators.Stats.fitMad(ref, "v")
    val batch = graft.operators.Stats.madGate(ref, "v", med, scaled)
      .collect().map(r => r.getDouble(0) -> r.getBoolean(2)).toMap
    val input = MemoryStream[Double]
    val out = graft.operators.Stats.madGate(input.toDS().toDF("v"), "v",
      med, scaled)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("mad_stream")
      .outputMode("append").start()
    input.addData(100.0, 12.0)
    q.processAllAvailable()
    input.addData(10.0, 13.0, 11.0)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from mad_stream").collect()
      .map(r => r.getDouble(0) -> r.getBoolean(2)).toMap
    assert(streamed == batch)
    assert(streamed(100.0) == false && streamed(12.0) == true)
  }

  test("heavyHitterTokensStream matches batch heavyHitterTokens in complete mode") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // real corpus text streamed in two chunks; exact regime (capacity
    // >= vocabulary) so the running totals must equal a batch pass over
    // everything seen so far, independent of chunking
    val docsDf = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(80).select("doc_id", "lang", "text")
    val docs = docsDf.collect()
      .map(r => LangDoc(r.getLong(0), r.getString(1), r.getString(2)))
    val batch = graft.operators.TextAnalysis
      .heavyHitterTokens(docsDf, "text", Seq("lang"), capacity = 256, topN = 5)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSet
    val input = MemoryStream[LangDoc]
    val out = graft.operators.TextAnalysis.heavyHitterTokens(input.toDF(),
      "text", Seq("lang"), capacity = 256, topN = 5)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete").start()
    (0 until 2).foreach { c =>
      input.addData(docs.filter(_.doc_id % 2 == c).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = s.sql("select * from hh_stream").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("quantileStatsStream matches batch GK quantiles in complete mode") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val docsDf = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(80).select("doc_id", "lang", "n_chars")
    val docs = docsDf.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val qs = Seq(0.0, 0.5, 1.0)
    val batch = graft.operators.Stats.quantileStats(
        docsDf, "n_chars", qs, groupCols = Seq("lang"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val input = MemoryStream[(Long, String, Long)]
    val out = graft.operators.Stats.quantileStats(
      input.toDF().toDF("doc_id", "lang", "n_chars"),
      "n_chars", qs, groupCols = Seq("lang"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("gk_stream")
      .outputMode("complete").start()
    (0 until 2).foreach { c =>
      input.addData(docs.filter(_._1 % 2 == c).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = s.sql("select * from gk_stream").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("windowedQuantilesStream: closed windows carry the exact batch quantiles") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ev = graft.sources.Sources.events(s, "/root/testdata/sf0.001")
      .limit(200).select("event_id", "event_type", "ts", "value")
    val rows = ev.collect().map(r => (r.getLong(0), r.getString(1),
      r.getTimestamp(2), r.getDouble(3)))
    val qs = Seq(0.5, 0.99)
    // batch reference: same GK-exact quantiles per (6h window, type)
    val batch = graft.operators.Stats.quantileStats(
        ev.withColumn("w", window(col("ts"), "6 hours"))
          .select(col("w.start").as("window_start"), col("event_type"),
            col("value")),
        "value", qs, groupCols = Seq("window_start", "event_type"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getDouble(2)) -> r.getDouble(3)).toMap
    val input = MemoryStream[(Long, String, Timestamp, Double)]
    val out = StreamOps.windowedQuantilesStream(
      input.toDF().toDF("event_id", "event_type", "ts", "value"),
      "value", qs, windowLength = "6 hours", watermark = "30 days",
      groupCols = Seq("event_type"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("wq_stream")
      .outputMode("append").start()
    (0 until 2).foreach { c =>
      input.addData(rows.filter(_._1 % 2 == c.toLong).toSeq: _*)
      q.processAllAvailable()
    }
    // sentinels push the watermark past every window end
    val far = Timestamp.valueOf("2030-01-01 00:00:00")
    input.addData((900L, "zz", far, 0.0)); q.processAllAvailable()
    input.addData((901L, "zz",
      Timestamp.valueOf("2030-01-02 00:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql(
        "select * from wq_stream where event_type <> 'zz'").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getDouble(2)) -> r.getDouble(3)).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("quantileBucketStream bands arrivals exactly like the batch gate") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val docsDf = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(90).select("doc_id", "n_chars")
    // fit once on the reference frame via the BATCH operator's own
    // threshold discipline (round-6 terciles)
    val row = docsDf.agg(percentile(col("n_chars").cast("double"),
      array(lit(1.0 / 3.0), lit(2.0 / 3.0)))).head
    val thrs = row.getSeq[Double](0).map(v =>
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val batch = graft.operators.Curation.bucketByQuantile(
        docsDf, col("n_chars").cast("double"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("bucket")).toMap
    val rows = docsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
    val input = MemoryStream[(Long, Long)]
    val out = graft.operators.Curation.bucketByThresholds(
      input.toDF().toDF("doc_id", "n_chars"), col("n_chars"), thrs,
      Seq("tail", "middle", "head"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("qb_stream")
      .outputMode("append").start()
    (0 until 2).foreach { c =>
      input.addData(rows.filter(_._1 % 2 == c.toLong).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = s.sql("select doc_id, bucket from qb_stream").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch && streamed.values.toSet.size == 3)
  }

  test("histogramStream matches the batch histogram after every prefix") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val valsDf = s.read.parquet("/root/testdata/sf0.001/events.parquet")
      .limit(100).select("event_id", "value")
    val rows = valsDf.collect().map(r => (r.getLong(0), r.getDouble(1)))
    val input = MemoryStream[(Long, Double)]
    val out = graft.operators.Stats.histogram(
      input.toDF().toDF("event_id", "value"), "value", binWidth = 5.0)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("hist_stream")
      .outputMode("complete").start()
    def histOf(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Stats.histogram(df, "value", 5.0).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getLong(3))).toSet
    // running answer equals the batch answer on the fed prefix — checked
    // after EACH chunk, not just at the end (counts are prefix-decomposable)
    (0 until 2).foreach { c =>
      input.addData(rows.filter(_._1 % 2 == c.toLong).toSeq: _*)
      q.processAllAvailable()
      val fed = valsDf.filter(col("event_id") % 2 <= c)
      val streamed = s.sql("select * from hist_stream").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
          r.getLong(3))).toSet
      assert(streamed == histOf(fed) && streamed.nonEmpty)
    }
    q.stop()
  }

  test("phraseSearchStream emits the batch phrase matches in append mode") {
    import StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val docsDf = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(60)
    def tsOf(id: Long) =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime +
        (id * 17 % 89) * 60000L)
    val docs = docsDf.select("doc_id", "text").collect()
      .map(r => StreamDoc(r.getLong(0), r.getString(1), tsOf(r.getLong(0))))
    val phrases = Seq((0, "table hash"), (1, "slow hash batch"))
    val batch = graft.operators.TextSearch
      .phraseSearch(docsDf, phrases.toDF("query_id", "phrase"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    val input = MemoryStream[StreamDoc]
    val out = graft.operators.TextSearch.phraseSearchInline(input.toDF(),
      phrases, passthroughCols = Seq("ts"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("phrase_stream")
      .outputMode("append").start()
    (0 until 2).foreach { c =>
      input.addData(docs.filter(_.doc_id % 2 == c).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = s.sql("select * from phrase_stream").collect()
    // matches arrive with their event time; the match set equals batch
    assert(streamed.map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
      r.getInt(3))).toSet == batch && batch.nonEmpty)
    val tsRows = streamed.map(r => r.getLong(1) -> r.getTimestamp(4)).toMap
    assert(tsRows.forall { case (id, ts) => ts == tsOf(id) })
  }

  test("approxDistinctTokensStream matches batch KMV in complete mode") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // SKETCH regime (k = 16 < per-lang vocabulary): the running
    // estimate still equals a batch pass over everything seen, because
    // KMV is a pure function of the hashed-token set — chunking-proof
    val docsDf = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(80).select("doc_id", "lang", "text")
    val docs = docsDf.collect()
      .map(r => LangDoc(r.getLong(0), r.getString(1), r.getString(2)))
    val batch = graft.operators.TextAnalysis
      .approxDistinctTokens(docsDf, "text", Seq("lang"), k = 16)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2),
        r.getBoolean(3))).toSet
    val input = MemoryStream[LangDoc]
    val out = graft.operators.TextAnalysis.approxDistinctTokens(
      input.toDF(), "text", Seq("lang"), k = 16)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    (0 until 2).foreach { c =>
      input.addData(docs.filter(_.doc_id % 2 == c).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = s.sql("select * from kmv_stream").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getInt(2),
        r.getBoolean(3))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("windowedStats aggregates a watermarked stream") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[Ev]
    val out = StreamOps.windowedStats(input.toDF(), windowLength = "1 hour",
      watermark = "2 hours")
    val q = out.writeStream.format("memory").queryName("win_stream")
      .outputMode("complete").start()
    input.addData(
      Ev(1, Timestamp.valueOf("2024-01-01 00:05:00"), 7, "click", 1.5),
      Ev(2, Timestamp.valueOf("2024-01-01 00:55:00"), 7, "click", 2.0),
      Ev(3, Timestamp.valueOf("2024-01-01 01:05:00"), 8, "view", 3.0))
    q.processAllAvailable()
    q.stop()
    val rows = s.sql(
      "select window_start, event_type, n_events, sum_value " +
        "from win_stream order by window_start, event_type").collect()
    assert(rows.map(r => (r.getTimestamp(0).toString, r.getString(1),
      r.getLong(2), r.getDouble(3))).toSeq == Seq(
      ("2024-01-01 00:00:00.0", "click", 2L, 3.5),
      ("2024-01-01 01:00:00.0", "view", 1L, 3.0)))
  }

  test("sessionizeStream closes sessions on gap and on watermark timeout") {
    import graft.streaming.StreamOps.{SessionEvent, SessionOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[SessionEvent]
    val events = input.toDF()
      .withWatermark("ts", "0 seconds").as[SessionEvent]
    val out = StreamOps.sessionizeStream(events, gapSeconds = 1800)
    val q = out.writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    // user 7: two events in one session, then a later event past the gap
    input.addData(
      SessionEvent(7, 1, Timestamp.valueOf("2024-01-01 00:00:00")),
      SessionEvent(7, 2, Timestamp.valueOf("2024-01-01 00:10:00")))
    q.processAllAvailable()
    input.addData(
      SessionEvent(7, 3, Timestamp.valueOf("2024-01-01 02:00:00")))
    q.processAllAvailable()
    // first session must now be emitted (gap exceeded)
    val afterGap = s.sql("select * from sess_stream").as[SessionOut].collect()
    assert(afterGap.toSeq == Seq(SessionOut(7, 1, 2, 1, 2)))
    // push the watermark far past the open session -> timeout fires
    input.addData(
      SessionEvent(8, 9, Timestamp.valueOf("2024-01-01 10:00:00")))
    q.processAllAvailable()
    input.addData(
      SessionEvent(8, 10, Timestamp.valueOf("2024-01-01 20:00:00")))
    q.processAllAvailable()
    q.stop()
    val all = s.sql("select * from sess_stream order by user_id, session_index")
      .as[SessionOut].collect().toSeq
    assert(all.contains(SessionOut(7, 2, 1, 3, 3))) // closed by timeout
    assert(all.head == SessionOut(7, 1, 2, 1, 2))
  }

  test("file-source stream over the real events table: read→transform→write") {
    val s = spark
    // stage the ns-normalized events as a streamable parquet dir
    val stageDir = java.nio.file.Files.createTempDirectory("events-stream").toString
    graft.sources.Sources.events(s, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(stageDir)
    val schema = s.read.parquet(stageDir).schema
    val stream = s.readStream.schema(schema).parquet(stageDir)
    val out = StreamOps.windowedStats(stream, windowLength = "1 hour",
      watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("file_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // append mode only emits watermark-closed windows; compare against the
    // batch result restricted to those windows
    val batch = graft.operators.Events.windowedStats(
      s.read.parquet(stageDir))
    val emitted = s.sql("select * from file_stream")
    val emittedCount = emitted.count()
    assert(emittedCount > 0)
    val joined = emitted.as("e").join(batch.as("b"),
      Seq("window_start", "event_type"))
    assert(joined.count() == emittedCount) // every emitted row matches batch
    assert(joined.filter(
      org.apache.spark.sql.functions.col("e.n_events") =!=
        org.apache.spark.sql.functions.col("b.n_events")).isEmpty)
  }

  test("sessionizeStream: a straggler session is numbered chronologically, not by arrival") {
    import graft.streaming.StreamOps.{SessionEvent, SessionOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[SessionEvent]
    val events = input.toDF()
      .withWatermark("ts", "24 hours").as[SessionEvent]
    val out = StreamOps.sessionizeStream(events, gapSeconds = 1800)
    val q = out.writeStream.format("memory").queryName("sess_straggler")
      .outputMode("append").start()
    input.addData(SessionEvent(7, 5, Timestamp.valueOf("2024-01-01 10:00:00")))
    q.processAllAvailable()
    // 3 hours older than the buffered session and past the gap: its own
    // session, which must come FIRST in chronological numbering
    input.addData(SessionEvent(7, 9, Timestamp.valueOf("2024-01-01 07:00:00")))
    q.processAllAvailable()
    // push the watermark (24h delay) past both sessions' close points
    input.addData(SessionEvent(8, 100, Timestamp.valueOf("2024-01-03 12:00:00")))
    q.processAllAvailable()
    q.stop()
    val emitted = s.sql(
        "select * from sess_straggler where user_id = 7 order by session_index")
      .as[SessionOut].collect().toSeq
    assert(emitted == Seq(
      SessionOut(7, 1, 1, 9, 9),   // 07:00 straggler = chronological first
      SessionOut(7, 2, 1, 5, 5)))  // 10:00 arrival = chronological second
  }

  test("sessionizeStream equals batch sessionize on out-of-order input with stragglers") {
    import graft.streaming.StreamOps.{SessionEvent, SessionOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(u: Long, id: Long, ts: String) =
      SessionEvent(u, id, Timestamp.valueOf(ts))
    // users 1 and 2, fed OUT of chronological order across batches (every
    // event is within the 24h watermark horizon when it arrives)
    val batches = Seq(
      Seq(ev(1, 12, "2024-01-01 02:00:00"), ev(2, 20, "2024-01-01 01:00:00")),
      Seq(ev(1, 10, "2024-01-01 00:00:00"), // straggler: 2h late, own session
        ev(1, 13, "2024-01-01 02:10:00"), ev(2, 22, "2024-01-01 03:00:00")),
      Seq(ev(1, 11, "2024-01-01 00:20:00"), // joins the straggler's session
        ev(2, 21, "2024-01-01 01:29:00"), ev(1, 14, "2024-01-01 05:00:00")))
    val input = MemoryStream[SessionEvent]
    val events = input.toDF()
      .withWatermark("ts", "24 hours").as[SessionEvent]
    val out = StreamOps.sessionizeStream(events, gapSeconds = 1800)
    val q = out.writeStream.format("memory").queryName("sess_parity")
      .outputMode("append").start()
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    // sentinel user pushes the watermark past every close point
    input.addData(ev(99, 999, "2024-01-03 12:00:00"))
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from sess_parity where user_id < 99")
      .as[SessionOut].collect().toSet
    val batch = graft.operators.Events.sessionize(
        batches.flatten.toDS().toDF(), gapSeconds = 1800)
      .as[SessionOut].collect().toSet
    assert(streamed == batch)
    assert(streamed.size == 5) // u1: 3 sessions, u2: 2 sessions
  }

  test("trendingTokensStream: closed windows emit the batch top-k, once") {
    import graft.streaming.StreamOps.{StreamDoc, TrendOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def d(id: Long, ts: String, text: String) =
      StreamDoc(id, text, Timestamp.valueOf(ts))
    // window 0 trends 'alpha'; window 1 trends 'burst' (absent before)
    val w0 = Seq(d(1, "2024-01-01 00:05:00", "alpha alpha beta"),
      d(2, "2024-01-01 00:40:00", "alpha gamma beta"))
    val w1 = Seq(d(3, "2024-01-01 01:10:00", "burst burst burst alpha"),
      d(4, "2024-01-01 01:50:00", "burst delta"))
    val input = MemoryStream[StreamDoc]
    val events = input.toDF()
      .withWatermark("ts", "30 minutes").as[StreamDoc]
    val q = StreamOps.trendingTokensStream(events,
        windowSeconds = 3600L, capacity = 4096, topK = 3)
      .writeStream.format("memory").queryName("trend_stream")
      .outputMode("append").start()
    input.addData(w0(0), w0(1)); q.processAllAvailable()
    input.addData(w1: _*); q.processAllAvailable()
    input.addData(d(9, "2024-01-01 12:00:00", "x")); q.processAllAvailable()
    input.addData(d(9, "2024-01-01 13:00:00", "x")); q.processAllAvailable()
    q.stop()
    val got = s.sql(
        "select * from trend_stream where window_start < timestamp '2024-01-01 02:00:00'")
      .as[TrendOut].collect()
      .groupBy(_.window_start.toString)
      .map { case (k, v) => k -> v.sortBy(_.rank)
        .map(o => (o.rank, o.token, o.cnt)).toSeq }
    // exact regime (capacity >> distinct): ranking == batch counts,
    // (count desc, token asc) ties — w0: alpha 3, beta 2, gamma 1
    assert(got("2024-01-01 00:00:00.0") ==
      Seq((1, "alpha", 3L), (2, "beta", 2L), (3, "gamma", 1L)))
    assert(got("2024-01-01 01:00:00.0") ==
      Seq((1, "burst", 4L), (2, "alpha", 1L), (3, "delta", 1L)))
    assert(got.size == 2)
  }

  test("klDriftStream: each closed window scores the batch KL exactly, once") {
    import graft.streaming.StreamOps.{DriftEvent, DriftOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val reference = s.sql(
      """select * from values ('en'), ('en'), ('en'), ('de'), ('fr')
        |  as t(category)""".stripMargin)
    def ev(ts: String, c: String) = DriftEvent(Timestamp.valueOf(ts), c)
    // two 1-hour windows, fed out of order; window 1 skews hard to 'de'
    // and introduces 'zz' (a category the reference never saw — the
    // smoothed-KL raison d'etre)
    val w0 = Seq(ev("2024-01-01 00:05:00", "en"), ev("2024-01-01 00:20:00", "de"),
      ev("2024-01-01 00:50:00", "en"), ev("2024-01-01 00:10:00", "fr"))
    val w1 = Seq(ev("2024-01-01 01:30:00", "de"), ev("2024-01-01 01:05:00", "de"),
      ev("2024-01-01 01:55:00", "zz"))
    val input = MemoryStream[DriftEvent]
    val events = input.toDF()
      .withWatermark("ts", "30 minutes").as[DriftEvent]
    val q = StreamOps.klDriftStream(events, reference,
        windowSeconds = 3600L)
      .writeStream.format("memory").queryName("kl_stream")
      .outputMode("append").start()
    // out-of-order arrival WITHIN the 30-minute horizon (the engine
    // drops sub-watermark rows upstream of stateful operators, so
    // parity is over the watermark-respecting stream)
    input.addData(w0(1), w0(0)); q.processAllAvailable()
    input.addData(w0(2), w0(3), w1(0)); q.processAllAvailable()
    input.addData(w1(1), w1(2)); q.processAllAvailable()
    // sentinels far ahead close both windows (two: the watermark
    // advances after the first's batch, the timeout fires on the next)
    input.addData(ev("2024-01-01 12:00:00", "en")); q.processAllAvailable()
    input.addData(ev("2024-01-01 13:00:00", "en")); q.processAllAvailable()
    q.stop()
    val streamed = s.sql(
        "select * from kl_stream where window_start < timestamp '2024-01-01 02:00:00'")
      .as[DriftOut].collect()
      .map(o => o.window_start.toString -> o).toMap
    assert(streamed.size == 2)
    def batchKl(evs: Seq[DriftEvent]) =
      graft.operators.Stats.klDivergence(
        evs.toDF().select(col("category")), reference, "category").head
    for ((ws, evs) <- Seq("2024-01-01 00:00:00.0" -> w0,
        "2024-01-01 01:00:00.0" -> w1)) {
      val b = batchKl(evs)
      val o = streamed(ws)
      assert(o.n_events == b.getAs[Long]("n_a"), ws)
      assert(o.n_categories == b.getAs[Long]("n_categories"), ws)
      assert(o.kl_div == b.getAs[Double]("kl_div"), ws)
    }
    assert(streamed("2024-01-01 01:00:00.0").kl_div >
      streamed("2024-01-01 00:00:00.0").kl_div) // the skewed window alarms
  }

  test("scd2Stream equals batch scd2 closed intervals on out-of-order input") {
    import graft.streaming.StreamOps.{Scd2Event, Scd2Out}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(u: Long, id: Long, ts: String, v: String) =
      Scd2Event(u, id, Timestamp.valueOf(ts), v)
    // out-of-chronological-order chunks, with repeats and an A→B→A flap
    val batches = Seq(
      Seq(ev(1, 3, "2024-01-01 02:00:00", "b"),
        ev(2, 20, "2024-01-01 01:00:00", "x")),
      Seq(ev(1, 1, "2024-01-01 00:00:00", "a"), // straggler opens history
        ev(1, 4, "2024-01-01 03:00:00", "b"),   // repeat inside run b
        ev(2, 21, "2024-01-01 02:30:00", "x")), // repeat inside run x
      Seq(ev(1, 2, "2024-01-01 01:00:00", "a"), // straggler repeat in run a
        ev(1, 5, "2024-01-01 04:00:00", "a"),   // flap back to a
        ev(2, 22, "2024-01-01 05:00:00", "y")))
    val input = MemoryStream[Scd2Event]
    val events = input.toDF()
      .withWatermark("ts", "24 hours").as[Scd2Event]
    val out = StreamOps.scd2Stream(events)
    val q = out.writeStream.format("memory").queryName("scd2_parity")
      .outputMode("append").start()
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    // sentinel pushes the watermark past every boundary
    input.addData(ev(99, 999, "2024-01-05 00:00:00", "z"))
    q.processAllAvailable()
    input.addData(ev(99, 998, "2024-01-06 00:00:00", "z"))
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from scd2_parity where user_id < 99")
      .as[Scd2Out].collect().toSet
    val batch = graft.operators.Events.scd2(
        batches.flatten.toDS().toDF(), "user_id", "value")
      .filter(col("valid_to").isNotNull)
      .select(col("key").as("user_id"), col("value"),
        col("valid_from"), col("valid_to"))
      .as[Scd2Out].collect().toSet
    assert(streamed == batch)
    // u1: a|b|a -> two closed; u2: x|y -> one closed
    assert(streamed.size == 3)
  }

  test("scd2Stream holds a boundary until the watermark passes it") {
    import graft.streaming.StreamOps.{Scd2Event, Scd2Out}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(u: Long, id: Long, ts: String, v: String) =
      Scd2Event(u, id, Timestamp.valueOf(ts), v)
    val input = MemoryStream[Scd2Event]
    val events = input.toDF()
      .withWatermark("ts", "0 seconds").as[Scd2Event]
    val q = StreamOps.scd2Stream(events).writeStream.format("memory")
      .queryName("scd2_final").outputMode("append").start()
    input.addData(ev(7, 1, "2024-01-01 00:00:00", "a"))
    q.processAllAvailable()
    input.addData(ev(7, 2, "2024-01-01 01:00:00", "b"))
    q.processAllAvailable()
    // the a->b boundary exists but is not yet below the watermark
    assert(s.sql("select * from scd2_final").count() == 0)
    input.addData(ev(8, 9, "2024-01-01 05:00:00", "z"))
    q.processAllAvailable()
    input.addData(ev(8, 10, "2024-01-01 06:00:00", "z"))
    q.processAllAvailable()
    q.stop()
    // watermark passed 01:00 -> exactly the closed interval emits; the
    // open run b (and user 8's open z) stay in state, not in the sink
    val rows = s.sql("select * from scd2_final").as[Scd2Out].collect()
    assert(rows.toSeq == Seq(Scd2Out(7, "a",
      Timestamp.valueOf("2024-01-01 00:00:00"),
      Timestamp.valueOf("2024-01-01 01:00:00"))))
  }

  test("sessionizeStream idle retention evicts the counter; numbering restarts") {
    import graft.streaming.StreamOps.{SessionEvent, SessionOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[SessionEvent]
    val events = input.toDF()
      .withWatermark("ts", "0 seconds").as[SessionEvent]
    val out = StreamOps.sessionizeStream(events, gapSeconds = 1800,
      idleRetentionSeconds = Some(3600))
    val q = out.writeStream.format("memory").queryName("sess_ttl")
      .outputMode("append").start()
    input.addData(SessionEvent(7, 1, Timestamp.valueOf("2024-01-01 00:00:00")))
    q.processAllAvailable()
    // advance the watermark far past close + retention via another user
    input.addData(SessionEvent(8, 2, Timestamp.valueOf("2024-01-02 00:00:00")))
    q.processAllAvailable()
    input.addData(SessionEvent(8, 3, Timestamp.valueOf("2024-01-03 00:00:00")))
    q.processAllAvailable()
    // user 7 returns long after the retention horizon
    input.addData(SessionEvent(7, 4, Timestamp.valueOf("2024-01-03 06:00:00")))
    q.processAllAvailable()
    input.addData(SessionEvent(8, 5, Timestamp.valueOf("2024-01-05 00:00:00")))
    q.processAllAvailable()
    q.stop()
    val sess7 = s.sql("select * from sess_ttl where user_id = 7 order by first_event_id")
      .as[SessionOut].collect().toSeq
    // counter was evicted between the two visits: both sessions number 1
    assert(sess7 == Seq(SessionOut(7, 1, 1, 1, 1), SessionOut(7, 1, 1, 4, 4)))
  }

  test("asOfJoinStream equals the batch as-of join on out-of-order input with late rights") {
    import graft.streaming.StreamOps.{AsOfOut, LeftEvent, RightEvent}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def L(u: Long, id: Long, ts: String) = LeftEvent(u, id, Timestamp.valueOf(ts))
    def R(u: Long, id: Long, ts: String) = RightEvent(u, id, Timestamp.valueOf(ts))
    val lefts = Seq(
      L(1, 10, "2024-01-01 01:00:00"), L(1, 11, "2024-01-01 03:00:00"),
      L(1, 12, "2024-01-01 00:10:00"), // before any right → None
      L(2, 20, "2024-01-01 02:00:00"))
    val rights = Seq(
      R(1, 100, "2024-01-01 00:30:00"), R(1, 101, "2024-01-01 02:30:00"),
      R(2, 200, "2024-01-01 05:00:00")) // after the only left-2 → unused
    val lin = MemoryStream[LeftEvent]
    val rin = MemoryStream[RightEvent]
    val out = graft.streaming.StreamOps.asOfJoinStream(
      lin.toDS(), rin.toDS(), watermark = "24 hours")
    val q = out.writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    // out-of-order delivery: a left arrives BEFORE the right that should
    // match it, and a late right (00:30) lands after later events
    lin.addData(lefts(0), lefts(1)); q.processAllAvailable()
    rin.addData(rights(1)); q.processAllAvailable()
    lin.addData(lefts(2), lefts(3)); q.processAllAvailable()
    rin.addData(rights(0), rights(2)); q.processAllAvailable()
    // sentinel on both inputs: union watermark is the MIN of the two
    lin.addData(L(99, 999, "2024-01-05 00:00:00"))
    rin.addData(R(99, 998, "2024-01-05 00:00:00"))
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from asof_stream where user_id < 99")
      .as[AsOfOut].collect()
      .map(o => (o.user_id, o.event_id, o.right_id)).toSet
    val batch = graft.operators.AsOfJoin.asOfJoin(
        lefts.toDS().toDF(), rights.toDS().toDF()
          .withColumnRenamed("right_id", "rid"),
        "user_id", "ts", Seq("event_id"), Seq("rid"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(streamed == batch)
    assert(streamed == Set(
      (1L, 10L, Some(100L)), (1L, 11L, Some(101L)),
      (1L, 12L, None), (2L, 20L, None)))
  }

  test("asOfJoinStream breaks right-timestamp ties exactly like the batch operator") {
    import graft.streaming.StreamOps.{AsOfOut, LeftEvent, RightEvent}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // two rights at the IDENTICAL timestamp: the winner must be the
    // batch operator's content-hash pick, not id order
    val lefts = Seq(LeftEvent(1, 10, Timestamp.valueOf("2024-01-01 02:00:00")))
    val rights = Seq(
      RightEvent(1, 5, Timestamp.valueOf("2024-01-01 01:00:00")),
      RightEvent(1, 9, Timestamp.valueOf("2024-01-01 01:00:00")))
    val lin = MemoryStream[LeftEvent]
    val rin = MemoryStream[RightEvent]
    val q = graft.streaming.StreamOps.asOfJoinStream(
        lin.toDS(), rin.toDS(), watermark = "1 hour")
      .writeStream.format("memory").queryName("asof_ties")
      .outputMode("append").start()
    rin.addData(rights: _*); lin.addData(lefts: _*)
    q.processAllAvailable()
    lin.addData(LeftEvent(99, 999, Timestamp.valueOf("2024-01-02 00:00:00")))
    rin.addData(RightEvent(99, 998, Timestamp.valueOf("2024-01-02 00:00:00")))
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from asof_ties where user_id = 1")
      .as[AsOfOut].collect().map(o => (o.event_id, o.right_id)).toSet
    val batch = graft.operators.AsOfJoin.asOfJoin(
        lefts.toDS().toDF(), rights.toDS().toDF()
          .withColumnRenamed("right_id", "rid"),
        "user_id", "ts", Seq("event_id"), Seq("rid"))
      .collect().map(r => (r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(streamed == batch)
    assert(streamed.head._2.nonEmpty) // some right matched
  }

  test("dedupByKey drops replayed keys even with a different timestamp") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[Ev]
    val out = configStream("drop_duplicates_watermarked",
      "keys" -> Seq("event_id"), "watermark_delay" -> "2 hours")(input.toDF())
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    val e = Ev(1, Timestamp.valueOf("2024-01-01 00:05:00"), 7, "click", 1.0)
    input.addData(e, e.copy(value = 1.0),
      // replay of key 1 five seconds later must still dedup
      e.copy(ts = Timestamp.valueOf("2024-01-01 00:05:05")),
      Ev(2, Timestamp.valueOf("2024-01-01 00:06:00"), 7, "view", 2.0))
    q.processAllAvailable()
    q.stop()
    assert(s.sql("select count(*) from dedup_stream").first().getLong(0) == 2L)
  }

  test("sessionizeStream: a late within-gap event cannot move the session end backwards") {
    import graft.streaming.StreamOps.{SessionEvent, SessionOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[SessionEvent]
    val events = input.toDF()
      .withWatermark("ts", "2 hours").as[SessionEvent]
    val out = StreamOps.sessionizeStream(events, gapSeconds = 1800)
    val q = out.writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    input.addData(SessionEvent(7, 5, Timestamp.valueOf("2024-01-01 10:00:00")))
    q.processAllAvailable()
    // late event (within watermark, earlier than lastTs, within gap)
    input.addData(SessionEvent(7, 6, Timestamp.valueOf("2024-01-01 09:50:00")))
    q.processAllAvailable()
    // close the session via a far-future event for another user
    input.addData(SessionEvent(8, 9, Timestamp.valueOf("2024-01-01 23:00:00")))
    q.processAllAvailable()
    input.addData(SessionEvent(8, 10, Timestamp.valueOf("2024-01-02 23:00:00")))
    q.processAllAvailable()
    q.stop()
    val sess7 = s.sql("select * from sess_late where user_id = 7")
      .as[SessionOut].collect().toSeq
    // one session of both events with batch-consistent min/max ids; the
    // session window itself must not have moved backwards
    assert(sess7 == Seq(SessionOut(7, 1, 2, 5, 6)))
  }

  test("rangeJoinStream equals batch rangeJoin on out-of-order input") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def t(ts: String) = Timestamp.valueOf(ts)
    // (user, id, ts) — lefts are purchases, rights are clicks; window is
    // [lts − 1h, lts]: same shape as the batch harness entry
    val lefts = Seq(
      (7L, 100L, t("2024-01-01 10:00:00")),
      (7L, 101L, t("2024-01-01 12:00:00")),
      (8L, 102L, t("2024-01-01 10:30:00")))
    val rights = Seq(
      (7L, 200L, t("2024-01-01 09:30:00")), // in 100's window
      (7L, 201L, t("2024-01-01 10:00:00")), // boundary: == lts, in
      (7L, 202L, t("2024-01-01 11:30:00")), // in 101's window
      (7L, 203L, t("2024-01-01 08:30:00")), // outside every window
      (8L, 204L, t("2024-01-01 10:29:00")), // in 102's window
      (9L, 205L, t("2024-01-01 10:00:00"))) // key with no lefts
    val lIn = MemoryStream[(Long, Long, Timestamp)]
    val rIn = MemoryStream[(Long, Long, Timestamp)]
    val out = StreamOps.rangeJoinStream(
      lIn.toDF().toDF("user_id", "event_id", "ts"),
      rIn.toDF().toDF("user_id", "click_id", "ts"),
      keyCol = "user_id", tsCol = "ts",
      lowerSeconds = 3600, upperSeconds = 0,
      leftCols = Seq("event_id"), rightCols = Seq("click_id"),
      watermark = "24 hours")
    val q = out.writeStream.format("memory").queryName("range_parity")
      .outputMode("append").start()
    // out-of-order interleave: some rights before their lefts, some after
    rIn.addData(rights(2), rights(3)); q.processAllAvailable()
    lIn.addData(lefts(0), lefts(2)); q.processAllAvailable()
    rIn.addData(rights(0), rights(4), rights(5)); q.processAllAvailable()
    lIn.addData(lefts(1)); q.processAllAvailable()
    rIn.addData(rights(1)); q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from range_parity")
      .as[(Long, Timestamp, Long, Long)].collect().toSet
    val batch = graft.operators.RangeJoin.rangeJoin(
        lefts.toDF("user_id", "event_id", "ts"),
        rights.toDF("user_id", "click_id", "ts"),
        keyCol = "user_id", tsCol = "ts",
        lowerSeconds = 3600, upperSeconds = 0,
        leftCols = Seq("event_id"), rightCols = Seq("click_id"))
      .as[(Long, Timestamp, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.map(r => (r._3, r._4)) ==
      Set((100L, 200L), (100L, 201L), (101L, 202L), (102L, 204L)))
  }

  test("funnelStream equals batch funnel on out-of-order input with stragglers") {
    import graft.streaming.StreamOps.{FunnelEvent, FunnelOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(u: Long, tpe: String, ts: String) =
      FunnelEvent(u, tpe, Timestamp.valueOf(ts))
    // u1 completes out of order; u2 misses the middle step; u3's FIRST
    // view arrives last (the anchor must move DOWN and re-admit the
    // earlier cart); u4's cart lands outside the 1h window; u5 has a
    // non-step event type (must be ignored, not buffered)
    val batches = Seq(
      Seq(ev(1, "view", "2024-01-01 00:00:00"),
        ev(1, "buy", "2024-01-01 00:30:00"),
        ev(3, "cart", "2024-01-01 02:05:00"),
        ev(5, "view", "2024-01-01 03:00:00")),
      Seq(ev(1, "cart", "2024-01-01 00:10:00"), // straggler completes u1
        ev(2, "view", "2024-01-01 01:00:00"),
        ev(2, "buy", "2024-01-01 01:20:00"),
        ev(3, "view", "2024-01-01 02:30:00"),
        ev(5, "scroll", "2024-01-01 03:10:00")),
      Seq(ev(3, "view", "2024-01-01 02:00:00"), // lowers u3's anchor
        ev(3, "buy", "2024-01-01 02:50:00"),
        ev(4, "view", "2024-01-01 04:00:00"),
        ev(4, "cart", "2024-01-01 05:30:00")))
    val input = MemoryStream[FunnelEvent]
    val events = input.toDF()
      .withWatermark("ts", "24 hours").as[FunnelEvent]
    val out = StreamOps.funnelStream(events,
      steps = Seq("view", "cart", "buy"), windowSeconds = 3600)
    val q = out.writeStream.format("memory").queryName("funnel_parity")
      .outputMode("append").start()
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    // sentinel pushes the watermark past every user's anchor + window
    input.addData(ev(99, "view", "2024-01-03 12:00:00"))
    q.processAllAvailable()
    // a straggler AFTER u1's row went out: the tombstone must swallow it
    input.addData(ev(1, "cart", "2024-01-03 11:00:00"))
    q.processAllAvailable()
    input.addData(ev(99, "view", "2024-01-05 12:00:00"))
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from funnel_parity where user_id < 99")
      .as[FunnelOut].collect().toSeq
    assert(streamed.size == streamed.map(_.user_id).distinct.size,
      "one row per user, even with post-emission stragglers")
    // batch replay of the SAME in-horizon input (the post-emission
    // straggler is outside u1's window, so it changes nothing there)
    val all = (batches.flatten :+ ev(1, "cart", "2024-01-03 11:00:00")).toDS()
      .select(col("user_id"), col("ts"), col("event_type"))
    val batch = graft.operators.Events.funnel(all,
        Seq("view", "cart", "buy"), windowSeconds = 3600)
      .select(col("user_id"), col("n_steps").cast("int").as("n_steps"),
        col("completed"))
      .as[FunnelOut].collect().toSeq
    assert(streamed.toSet == batch.toSet)
    assert(streamed.toSet == Set(
      FunnelOut(1, 3, true),  // straggler cart completed the chain
      FunnelOut(2, 1, false), // no cart: chain dead at step 2
      FunnelOut(3, 3, true),  // late-arriving earlier view re-anchored
      FunnelOut(4, 1, false), // cart outside the window
      FunnelOut(5, 1, false))) // non-step event ignored
  }

  test("funnelStream without TTL: a stale provisional timer must not evict the tombstone") {
    import graft.streaming.StreamOps.{FunnelEvent, FunnelOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(u: Long, tpe: String, ts: String) =
      FunnelEvent(u, tpe, Timestamp.valueOf(ts))
    val input = MemoryStream[FunnelEvent]
    val events = input.toDF()
      .withWatermark("ts", "0 seconds").as[FunnelEvent]
    val out = StreamOps.funnelStream(events, Seq("view", "buy"),
      windowSeconds = 3600,
      emittedRetentionSeconds = None) // immortal-tombstone opt-in
    val q = out.writeStream.format("memory").queryName("funnel_stale")
      .outputMode("append").start()
    // b1: provisional anchor for u7, timer set at anchor+window
    input.addData(ev(7, "view", "2024-01-01 00:00:00"))
    q.processAllAvailable()
    // b2: sentinel raises the post-batch watermark past the window close
    input.addData(ev(8, "view", "2024-01-01 02:00:00"))
    q.processAllAvailable()
    // b3: u7 gets DATA in the same batch the watermark is already past —
    // emission rides the data path and the provisional timer goes stale
    input.addData(ev(7, "view", "2024-01-01 02:30:00"))
    q.processAllAvailable()
    // b4: unrelated data lets the stale timer fire on u7's tombstone
    input.addData(ev(8, "view", "2024-01-01 03:00:00"))
    q.processAllAvailable()
    // b5+b6: if the tombstone died, this in-horizon chain would emit a
    // SECOND row for u7
    input.addData(ev(7, "view", "2024-01-01 03:30:00"),
      ev(7, "buy", "2024-01-01 03:40:00"))
    q.processAllAvailable()
    // two more watermark advances: one to pass the would-be second
    // window's close, one more so its timeout can actually fire
    input.addData(ev(8, "view", "2024-01-01 06:00:00"))
    q.processAllAvailable()
    input.addData(ev(8, "view", "2024-01-01 07:00:00"))
    q.processAllAvailable()
    q.stop()
    val u7 = s.sql("select * from funnel_stale where user_id = 7")
      .as[FunnelOut].collect().toSeq
    assert(u7 == Seq(FunnelOut(7, 1, false)),
      s"exactly one row per user ever; got $u7")
  }

  test("funnelStream tombstone TTL: a returning user starts a fresh funnel") {
    import graft.streaming.StreamOps.{FunnelEvent, FunnelOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(u: Long, tpe: String, ts: String) =
      FunnelEvent(u, tpe, Timestamp.valueOf(ts))
    val input = MemoryStream[FunnelEvent]
    val events = input.toDF()
      .withWatermark("ts", "0 seconds").as[FunnelEvent]
    val out = StreamOps.funnelStream(events, Seq("view", "buy"),
      windowSeconds = 3600, emittedRetentionSeconds = Some(3600))
    val q = out.writeStream.format("memory").queryName("funnel_ttl")
      .outputMode("append").start()
    input.addData(ev(7, "view", "2024-01-01 00:00:00"))
    q.processAllAvailable()
    // close the window, then age past the retention horizon
    input.addData(ev(8, "view", "2024-01-01 02:00:00"))
    q.processAllAvailable()
    input.addData(ev(8, "view", "2024-01-02 00:00:00"))
    q.processAllAvailable()
    // user 7 returns after the TTL: new funnel, completed this time
    input.addData(ev(7, "view", "2024-01-02 06:00:00"),
      ev(7, "buy", "2024-01-02 06:10:00"))
    q.processAllAvailable()
    input.addData(ev(8, "view", "2024-01-04 00:00:00"))
    q.processAllAvailable()
    q.stop()
    val u7 = s.sql("select * from funnel_ttl where user_id = 7 order by n_steps")
      .as[FunnelOut].collect().toSeq
    assert(u7 == Seq(FunnelOut(7, 1, false), FunnelOut(7, 2, true)))
  }

  test("gopherQualityFlags runs on a stream unchanged (stateless gate)") {
    // the rule gate is a pure projection, so it needs no watermark, no
    // state, and no streaming-specific form — the parity-core property
    // extended to the curation surface
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val good = Seq.fill(60)("the word").mkString(" ")
    val input = MemoryStream[StreamDoc]
    val out = graft.operators.TextAnalysis.gopherQualityFlags(
      input.toDS().toDF(), idCol = "doc_id", minStopwords = 1)
    val q = out.writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    input.addData(
      StreamDoc(1L, good, Timestamp.valueOf("2024-01-01 00:00:01")),
      StreamDoc(2L, "too short", Timestamp.valueOf("2024-01-01 00:00:02")))
    q.processAllAvailable()
    q.stop()
    val got = s.sql("select doc_id, keep from gopher_stream")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> false))
  }

  test("repetitionGateStream emits the batch gopherRepetitionFlags rows") {
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // real corpus text (heavy natural n-gram repetition from the small
    // vocabulary) streamed in two out-of-order chunks — stateless, so
    // arrival order must not matter
    val docsDf = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(60)
    def tsOf(id: Long) =
      new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime +
        (id * 13 % 83) * 60000L)
    val docs = docsDf.select("doc_id", "text").collect()
      .map(r => StreamDoc(r.getLong(0), r.getString(1), tsOf(r.getLong(0))))
    def asKey(r: org.apache.spark.sql.Row) =
      (r.getLong(0), (1 to 13).map(r.getDouble).toList,
        r.getBoolean(14))
    val batch = graft.operators.TextAnalysis
      .gopherRepetitionFlags(docsDf).collect().map(asKey).toSet
    val input = MemoryStream[StreamDoc]
    val out = configStream("gopher_repetition_flags",
      "passthrough_cols" -> Seq("ts"))(input.toDF())
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("rep_stream")
      .outputMode("append").start()
    (0 until 2).foreach { c =>
      input.addData(docs.filter(_.doc_id % 2 == c).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = s.sql("select * from rep_stream").collect()
      .map(asKey).toSet
    assert(streamed == batch && streamed.nonEmpty)
    // ts passes through for downstream windowing
    val tsRows = s.sql("select doc_id, ts from rep_stream").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(docs.forall(d => tsRows(d.doc_id) == d.ts))
  }

  test("c4CleanStream cleans pages on arrival like the batch operator") {
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // crafted multi-line pages (the corpus is single-line): one page
    // passing, one failing the sentence floor, one failing a page gate
    val pages = Seq(
      1L -> (1 to 6).map(i => s"Sentence number $i stays here.").mkString("\n"),
      2L -> "Only one good line stays.\nno punct",
      3L -> ("Lorem ipsum dolor sit amet.\n" +
        (1 to 5).map(i => s"Sentence number $i stays here.").mkString("\n")))
    val batchDf = s.createDataFrame(pages.map(p => (p._1, p._2)))
      .toDF("doc_id", "text")
    val batch = graft.operators.TextAnalysis.c4Clean(batchDf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    val input = MemoryStream[StreamDoc]
    val out = configStream("c4_clean",
      "passthrough_cols" -> Seq("ts"))(input.toDF())
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("c4_stream")
      .outputMode("append").start()
    input.addData(pages.map { case (id, text) =>
      StreamDoc(id, text, Timestamp.valueOf("2024-01-01 00:00:01")) }: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql(
      "select doc_id, text_clean, n_lines, n_lines_kept, n_sentences, keep " +
        "from c4_stream").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSet
    assert(streamed == batch)
    assert(streamed.count(_._6) == 1) // only the clean page passes
  }

  test("canonicalizeUrlsStream canonicalizes on arrival like batch") {
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val urls = Seq(
      1L -> "HTTPS://WWW.Example.COM:443/a/?b=2&a=1&utm_x=1#f",
      2L -> "nope")
    val batch = graft.operators.UrlOps.canonicalizeUrls(
        s.createDataFrame(urls).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSet
    val input = MemoryStream[StreamDoc]
    val out = configStream("canonicalize_urls",
      "url_col" -> "text", "passthrough_cols" -> Seq("ts"))(input.toDF())
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("url_stream")
      .outputMode("append").start()
    input.addData(urls.map { case (id, u) =>
      StreamDoc(id, u, Timestamp.valueOf("2024-01-01 00:00:01")) }: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select doc_id, url_canon from url_stream")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(streamed == batch)
    assert(streamed.contains(
      1L -> Some("https://example.com/a?a=1&b=2")))
  }

  test("normalizeTextStream normalizes on arrival like batch") {
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val texts = Seq(
      1L -> "cafe\u0301 \u00E2\u20AC\u2122ok\u00E2\u20AC\u2122",
      2L -> "plain ascii")
    val batch = graft.operators.Normalize.normalizeText(
        s.createDataFrame(texts).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    val input = MemoryStream[StreamDoc]
    val out = configStream("normalize_text",
      "passthrough_cols" -> Seq("ts"))(input.toDF())
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("norm_stream")
      .outputMode("append").start()
    input.addData(texts.map { case (id, text) =>
      StreamDoc(id, text, Timestamp.valueOf("2024-01-01 00:00:01")) }: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql(
      "select doc_id, text_norm, changed from norm_stream").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    assert(streamed == batch)
    assert(streamed.exists(t => t._1 == 1L &&
      t._2 == "caf\u00E9 \u2019ok\u2019" && t._3))
  }

  test("extractTextStream extracts main content like the batch operator") {
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val pages = Seq(
      1L -> ("<html><body><nav><a href=\"/\">Home</a> <a href=\"/a\">About" +
        " this site</a></nav><p>This is the main paragraph of the page " +
        "and it is long enough to keep.</p></body></html>"),
      2L -> "<p>short</p>",
      3L -> "")
    val batchDf = s.createDataFrame(pages.map(p => (p._1, p._2)))
      .toDF("doc_id", "text")
    val batch = graft.operators.HtmlExtract.extractText(
        batchDf, "doc_id", "text", minStopFrac = 0.05).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val input = MemoryStream[StreamDoc]
    // extract_text exposes no min_stop_frac: the batch operator runs
    // on the stream frame unchanged
    val out = graft.operators.HtmlExtract.extractText(input.toDF(),
      "doc_id", "text", minStopFrac = 0.05, passthroughCols = Seq("ts"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("extract_stream")
      .outputMode("append").start()
    input.addData(pages.map { case (id, text) =>
      StreamDoc(id, text, Timestamp.valueOf("2024-01-01 00:00:01")) }: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql(
      "select doc_id, text_main, n_lines, n_lines_kept " +
        "from extract_stream").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed == batch)
    // the nav died, the content line survived, page 2/3 kept nothing
    val byId = streamed.map(t => t._1 -> t._2).toMap
    assert(byId(1L).startsWith("This is the main paragraph"))
    assert(!byId(1L).contains("Home") && byId(2L) == "" && byId(3L) == "")
  }

  test("splitSentencesStream segments on arrival like batch") {
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val texts = Seq(
      1L -> "Dr. Smith paid 3.14 today. Was it e.g. fine? Yes!",
      2L -> "")
    val batch = graft.operators.Sentences.splitSentences(
        s.createDataFrame(texts).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val input = MemoryStream[StreamDoc]
    val out = configStream("split_sentences",
      "passthrough_cols" -> Seq("ts"))(input.toDF())
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("sent_stream")
      .outputMode("append").start()
    input.addData(texts.map { case (id, text) =>
      StreamDoc(id, text, Timestamp.valueOf("2024-01-01 00:00:01")) }: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql(
      "select doc_id, sent_id, sentence from sent_stream").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(streamed == batch)
    assert(streamed.contains((1L, 0, "Dr. Smith paid 3.14 today.")))
    assert(streamed.size == 3) // empty doc fans out to nothing
  }

  test("readabilityScoresStream scores on arrival like batch") {
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val texts = Seq(1L -> "The cat sat. It purred loudly.", 2L -> "")
    val batch = graft.operators.Sentences.readabilityScores(
        s.createDataFrame(texts).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)), Option(r.get(5)))).toSet
    val input = MemoryStream[StreamDoc]
    val out = configStream("readability_scores",
      "passthrough_cols" -> Seq("ts"))(input.toDF())
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("read_stream")
      .outputMode("append").start()
    input.addData(texts.map { case (id, text) =>
      StreamDoc(id, text, Timestamp.valueOf("2024-01-01 00:00:01")) }: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql(
      "select doc_id, n_words, n_sentences, n_syllables, flesch, " +
        "fk_grade from read_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)), Option(r.get(5)))).toSet
    assert(streamed == batch)
    assert(streamed.exists(t => t._1 == 1L && t._2 == 6L && t._3 == 2L))
  }

  test("parseSitemapsStream and parseWarcStream parse on arrival like batch") {
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val sm = "<urlset><url><loc>https://h/a&amp;b</loc>" +
      "<priority>0.5</priority></url></urlset>"
    val warcBlob = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 5\r\n\r\nhello"
    val input = MemoryStream[StreamDoc]
    val smOut = graft.operators.Sitemaps.parseSitemaps(
      input.toDF().select(col("doc_id").cast("string").as("host"),
        col("text").as("xml")))
    assert(smOut.isStreaming)
    val q1 = smOut.writeStream.format("memory").queryName("sm_stream")
      .outputMode("append").start()
    val input2 = MemoryStream[StreamDoc]
    val warcOut = graft.sources.Warc.parseWarc(
      input2.toDF().select(col("doc_id"), col("text").as("blob")))
    assert(warcOut.isStreaming)
    val q2 = warcOut.writeStream.format("memory").queryName("warc_stream")
      .outputMode("append").start()
    input.addData(StreamDoc(7L, sm,
      Timestamp.valueOf("2024-01-01 00:00:01")))
    input2.addData(StreamDoc(8L, warcBlob,
      Timestamp.valueOf("2024-01-01 00:00:01")))
    q1.processAllAvailable(); q1.stop()
    q2.processAllAvailable(); q2.stop()
    val smRows = s.sql("select host, kind, loc, priority from sm_stream")
      .collect()
    assert(smRows.length == 1)
    assert(smRows(0).getString(0) == "7" &&
      smRows(0).getString(1) == "url" &&
      smRows(0).getString(2) == "https://h/a&b" &&
      smRows(0).getDouble(3) == 0.5)
    val wr = s.sql("select doc_id, warc_type, payload from warc_stream")
      .collect()
    assert(wr.length == 1)
    assert(wr(0).getLong(0) == 8L && wr(0).getString(1) == "response" &&
      wr(0).getString(2) == "hello")
  }

  test("parseWarcGzStream: gz members decode + HTTP split + charset " +
       "chain on arrival, matching the batch chain") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def gz(bytes: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(bytes); g.close()
      bos.toByteArray
    }
    val body = Array[Byte]('c', 'a', 'f', 0xE9.toByte) // cp1252 café
    val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
      .getBytes("US-ASCII") ++ body
    val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes(
      "US-ASCII") ++ payload
    val blob = gz(rec) ++ gz(rec)
    val batchRows = graft.sources.Warc.httpResponses(
        graft.sources.Warc.parseWarcGz(
          Seq((9L, blob)).toDF("doc_id", "blob")))
      .select("doc_id", "rec_id", "http_status", "charset", "body")
      .collect().map(_.toSeq).toSet
    val input = MemoryStream[GzDoc]
    val out = graft.sources.Warc.httpResponses(
      graft.sources.Warc.parseWarcGz(input.toDF()))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("warcgz_stream")
      .outputMode("append").start()
    input.addData(GzDoc(9L, blob))
    q.processAllAvailable(); q.stop()
    val streamed = s.sql("select doc_id, rec_id, http_status, charset, " +
        "body from warcgz_stream").collect().map(_.toSeq).toSet
    assert(streamed == batchRows)
    assert(streamed.exists(r => r(3) == "windows-1252" &&
      r(4) == "café"))
  }

  test("sitemapDirectivesStream and rendezvousShardsStream match batch") {
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val body = "User-agent: *\nSitemap: https://h/s1.xml\n" +
      "sitemap: https://h/s2.xml\nSitemap:\n"
    val input = MemoryStream[StreamDoc]
    val smOut = graft.operators.Robots.sitemapDirectivesRaw(
      input.toDF().select(col("doc_id").cast("string").as("host"),
        col("text").as("body")))
    assert(smOut.isStreaming)
    val q1 = smOut.writeStream.format("memory").queryName("smd_stream")
      .outputMode("append").start()
    val input2 = MemoryStream[StreamDoc]
    val shOut = graft.sources.Layout.rendezvousShards(
      input2.toDF().select(col("doc_id")), Seq("doc_id"), 8)
    assert(shOut.isStreaming)
    val q2 = shOut.writeStream.format("memory").queryName("shard_stream")
      .outputMode("append").start()
    input.addData(StreamDoc(3L, body,
      Timestamp.valueOf("2024-01-01 00:00:01")))
    input2.addData((1L to 50L).map(i => StreamDoc(i, "",
      Timestamp.valueOf("2024-01-01 00:00:01"))): _*)
    q1.processAllAvailable(); q1.stop()
    q2.processAllAvailable(); q2.stop()
    val sm = s.sql("select host, sitemap_url from smd_stream").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(sm == Set("3" -> "https://h/s1.xml", "3" -> "https://h/s2.xml"))
    val batchShards = graft.sources.Layout.rendezvousShards(
        (1L to 50L).map(Tuple1(_)).toDF("doc_id"), Seq("doc_id"), 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val streamedShards = s.sql("select doc_id, shard from shard_stream")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamedShards == batchShards)
  }

  test("piecesTokenizeStream emits the batch greedy segmentation") {
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val train = Seq((1L, "spark sparse park"), (2L, "spark spa"))
      .toDF("doc_id", "text")
    val vocab = graft.operators.TextAnalysis
      .trainPieces(train, "text", topN = 30, maxPieceLen = 4)
      .localCheckpoint(true)
    val docs = Seq(
      StreamDoc(10L, "spark park", Timestamp.valueOf("2024-01-01 00:00:01")),
      StreamDoc(11L, "sparkz", Timestamp.valueOf("2024-01-01 00:00:02")))
    val input = MemoryStream[StreamDoc]
    val out = graft.operators.TextAnalysis.piecesTokenize(input.toDF(),
      "doc_id", "text", vocab, maxPieceLen = 4)
    val q = out.writeStream.format("memory").queryName("pieces_stream")
      .outputMode("append").start()
    input.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from pieces_stream").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    val batch = graft.operators.TextAnalysis.piecesTokenize(
        docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
        "doc_id", "text", vocab, maxPieceLen = 4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the unknown character really went through the [UNK] path
    assert(streamed.exists(t => t._1 == 11L && t._4 == "[UNK]"))
  }

  test("bpeTokenizeStream loads the PERSISTED model at stream start " +
       "and matches the batch encode — trained Monday, gating " +
       "Tuesday's stream") {
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val train = Seq((1L, "low lower lowest low low"),
      (2L, "new newer newest new")).toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft-bpe-stream").toString + "/m"
    graft.operators.ModelStore.writeBpeModel(
      graft.operators.TextAnalysis.trainBpe(train, "text",
        numMerges = 4), store)
    val docs = Seq(
      StreamDoc(10L, "low new lowly",
        Timestamp.valueOf("2024-01-01 00:00:01")),
      StreamDoc(11L, "newest low",
        Timestamp.valueOf("2024-01-01 00:00:02")))
    val input = MemoryStream[StreamDoc]
    val out = configStream("bpe_tokenize_stored",
      "model_path" -> store)(input.toDF())
    val q = out.writeStream.format("memory").queryName("bpe_stream")
      .outputMode("append").start()
    input.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from bpe_stream").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    val batch = graft.operators.ModelStore.bpeTokenizeFromModel(
        docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"), store)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("stored-model streaming inference: piecesTokenizeStoredStream " +
       "and scoreLogisticStoredStream match their batch loaders") {
    import graft.streaming.StreamOps.StreamDoc
    import graft.operators.{ModelStore, TextAnalysis, TextClassify}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val train = Seq((1L, "spark sparse park", "en"),
      (2L, "der schnelle fuchs", "de"),
      (3L, "spark spa quick", "en")).toDF("doc_id", "text", "lang")
    val pStore = java.nio.file.Files
      .createTempDirectory("graft-pcs-stream").toString + "/m"
    ModelStore.writePiecesModel(
      TextAnalysis.trainPieces(train, "text", topN = 30,
        maxPieceLen = 4), pStore, maxPieceLen = 4)
    val lStore = java.nio.file.Files
      .createTempDirectory("graft-lg-stream").toString + "/m"
    ModelStore.writeLogisticModel(
      TextClassify.trainLogisticHashed(
        train.withColumn("is_en", col("lang") === "en"),
        "doc_id", "text", "is_en", dim = 8, iters = 2), lStore)
    val docs = Seq(
      StreamDoc(10L, "spark park quick",
        Timestamp.valueOf("2024-01-01 00:00:01")),
      StreamDoc(11L, "schnelle spa",
        Timestamp.valueOf("2024-01-01 00:00:02")))
    val input = MemoryStream[StreamDoc]
    val outP = configStream("pieces_tokenize_stored",
      "model_path" -> pStore)(input.toDF())
    val outL = configStream("score_logistic_stored",
      "model_path" -> lStore)(input.toDF())
    val qp = outP.writeStream.format("memory").queryName("pcs_stored")
      .outputMode("append").start()
    val ql = outL.writeStream.format("memory").queryName("lg_stored")
      .outputMode("append").start()
    input.addData(docs: _*)
    qp.processAllAvailable(); ql.processAllAvailable()
    qp.stop(); ql.stop()
    val batchDf = docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
    val gotP = s.sql("select * from pcs_stored").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    val wantP = ModelStore.piecesTokenizeFromModel(batchDf, pStore)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(gotP == wantP && gotP.nonEmpty)
    val gotL = s.sql("select doc_id, p from lg_stored").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val wantL = TextClassify.scoreLogisticInline(batchDf,
        ModelStore.logisticFromModel(s, lStore)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(gotL == wantL && gotL.nonEmpty)
  }

  test("knScoreStream: the persisted n-gram stack KN3-scores arriving " +
       "documents exactly like the batch scorer") {
    import graft.streaming.StreamOps.StreamDoc
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val train = Seq((1L, "a b c d a b c"), (2L, "a b c e x b"),
      (3L, "x b c a b")).toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("graft-kn-stream").toString + "/m"
    graft.operators.ModelStore.writeNgramModel(
      graft.operators.LanguageModel.trainNgrams(train, "doc_id",
        "text", maxN = 3), store, maxN = 3)
    val docs = Seq(
      StreamDoc(10L, "a b c d", Timestamp.valueOf("2024-01-01 00:00:01")),
      StreamDoc(11L, "q b c x", Timestamp.valueOf("2024-01-01 00:00:02")))
    val input = MemoryStream[StreamDoc]
    // score_kn_ngram_stored aggregates per document without a
    // watermark, so it is batch-only in config; the batch operator
    // runs on the stream frame in complete mode
    val out = graft.operators.LanguageModel.scoreByKneserNeyN(input.toDF(),
      graft.operators.ModelStore.ngramsFromModel(s, store),
      "doc_id", "text", 3)
    val q = out.writeStream.format("memory").queryName("kn_stream")
      .outputMode("complete").start()
    input.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from kn_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.LanguageModel.scoreByKneserNeyN(
        docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
        graft.operators.ModelStore.ngramsFromModel(s, store),
        "doc_id", "text", order = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("decayedActivityStream matches batch per user under shuffled arrival") {
    import graft.streaming.StreamOps.{AnomEvent, DecayedOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val evDf = graft.sources.Sources
      .table(s, "/root/testdata/sf0.001", "events")
      .filter(col("user_id") < 12)
      .select("event_id", "ts", "user_id", "value")
    val batch = graft.operators.Events.decayedActivity(evDf)
      .collect()
      .map(r => DecayedOut(r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val rows = evDf.collect()
      .map(r => AnomEvent(r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Timestamp]("ts"), r.getAs[Double]("value")))
    val input = MemoryStream[AnomEvent]
    val out = StreamOps.decayedActivityStream(input.toDS())
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("decayed_stream")
      .outputMode("update").start()
    // each user arrives wholly inside one chunk, but the chunk itself
    // is time-SCRAMBLED (hash order): the top-k state must be
    // arrival-order independent, no watermark involved
    rows.groupBy(_.user_id % 3).toSeq.sortBy(_._1).foreach { case (_, chunk) =>
      input.addData(chunk.sortBy(e => e.event_id.## * 2654435761L).toSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    // one emission per (user, chunk) = one per user here
    val streamed = s.sql("select * from decayed_stream").as[DecayedOut]
      .collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("decayedActivityStream: every update equals batch over the seen prefix") {
    import graft.streaming.StreamOps.{AnomEvent, DecayedOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(id: Long, minute: Int, v: Double) =
      AnomEvent(7L, id, Timestamp.valueOf(f"2026-01-01 00:$minute%02d:00"), v)
    // NEWEST arrives first: every later chunk is entirely "late" data
    // landing behind the current window head
    val chunks = Seq(
      Seq(ev(10L, 50, 8.0), ev(9L, 45, 4.0)),
      Seq(ev(8L, 40, 2.0)),
      Seq(ev(7L, 35, 1.0), ev(6L, 30, 16.0)))
    val input = MemoryStream[AnomEvent]
    val out = StreamOps.decayedActivityStream(input.toDS(), maxEvents = 4)
    val q = out.writeStream.format("memory").queryName("decayed_prefix")
      .outputMode("update").start()
    var seen = Seq.empty[AnomEvent]
    val got = Seq.newBuilder[DecayedOut]
    chunks.foreach { c =>
      input.addData(c: _*)
      q.processAllAvailable()
      seen = seen ++ c
      val rows = s.sql("select * from decayed_prefix").as[DecayedOut]
        .collect()
      got.clear(); got ++= rows
      val expect = graft.operators.Events.decayedActivity(
          seen.toDF(), maxEvents = 4)
        .collect()
        .map(r => DecayedOut(r.getLong(0), r.getLong(1), r.getDouble(2)))
        .head
      assert(rows.last == expect, s"after ${seen.size} events")
    }
    q.stop()
    // the window capped at 4: the oldest event (16.0) fell out
    assert(got.result().last.decayed_value ==
      8.0 + 4.0 * 0.5 + 2.0 * 0.25 + 1.0 * 0.125)
  }

  test("decayedActivityStream tolerates non-finite values like batch") {
    import graft.streaming.StreamOps.{AnomEvent, DecayedOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(u: Long, id: Long, minute: Int, v: Double) =
      AnomEvent(u, id, Timestamp.valueOf(f"2026-01-01 00:$minute%02d:00"), v)
    // user 1: NaN newest + one finite; user 2: nothing but NaN
    val rows = Seq(ev(1L, 2L, 10, Double.NaN), ev(1L, 1L, 5, 4.0),
      ev(2L, 3L, 10, Double.NaN))
    val input = MemoryStream[AnomEvent]
    val out = StreamOps.decayedActivityStream(input.toDS(), maxEvents = 2)
    val q = out.writeStream.format("memory").queryName("decayed_nan")
      .outputMode("update").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val got = s.sql("select * from decayed_nan").as[DecayedOut]
      .collect().map(r => r.user_id -> r).toMap
    val batch = graft.operators.Events
      .decayedActivity(rows.toDF(), maxEvents = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) null
          else java.lang.Double.valueOf(r.getDouble(2))))).toMap
    // NaN term skipped, finite one keeps its rank-1 weight
    assert(batch(1L) == ((2L, java.lang.Double.valueOf(2.0))))
    assert(got(1L).n_recent == 2L && got(1L).decayed_value == 2.0)
    // all-non-finite user: null score both sides, row still emitted
    assert(batch(2L) == ((1L, null)))
    assert(got(2L).n_recent == 1L && got(2L).decayed_value == null)
  }

  test("topPathsStream finalizes the batch path-instance multiset") {
    import graft.streaming.StreamOps.{PathOut, Scd2Event}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val evDf = graft.sources.Sources
      .table(s, "/root/testdata/sf0.001", "events")
      .filter(col("user_id") < 12)
      .select("event_id", "ts", "user_id", "event_type")
    // batch counts WITHOUT the top-N cut: the stream emits instances
    val batch = graft.operators.Events.topPaths(evDf, k = 3,
        topN = Int.MaxValue).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = evDf.collect()
      .map(r => Scd2Event(r.getAs[Long]("user_id"),
        r.getAs[Long]("event_id"), r.getAs[Timestamp]("ts"),
        r.getAs[String]("event_type")))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Scd2Event]
    val out = StreamOps.topPathsStream(
      input.toDF().withWatermark("ts", "0 seconds").as[Scd2Event], k = 3)
    val q = out.writeStream.format("memory").queryName("paths_stream")
      .outputMode("append").start()
    val third = (rows.length + 2) / 3
    rows.grouped(third).foreach { chunk =>
      input.addData(chunk.reverse.toSeq: _*)
      q.processAllAvailable()
    }
    input.addData(Scd2Event(999999L, 999999L,
      Timestamp.valueOf("2030-01-01 00:00:00"), "view"))
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from paths_stream").as[PathOut]
      .collect().groupBy(_.path)
      .map { case (k2, v) => k2 -> v.length.toLong }
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("transitionPairsStream finalizes the batch pair multiset") {
    import graft.streaming.StreamOps.{Scd2Event, TransitionPair}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val evDf = graft.sources.Sources
      .table(s, "/root/testdata/sf0.001", "events")
      .filter(col("user_id") < 12)
      .select("event_id", "ts", "user_id", "event_type")
    val batch = graft.operators.Events.transitionMatrix(evDf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val rows = evDf.collect()
      .map(r => Scd2Event(r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Timestamp]("ts"), r.getAs[String]("event_type")))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val input = MemoryStream[Scd2Event]
    val out = StreamOps.transitionPairsStream(
      input.toDF().withWatermark("ts", "0 seconds").as[Scd2Event])
    val q = out.writeStream.format("memory").queryName("trans_stream")
      .outputMode("append").start()
    // time-ordered chunks, each internally REVERSED: sequencing must
    // come from the buffer, not arrival
    val third = (rows.length + 2) / 3
    rows.grouped(third).foreach { chunk =>
      input.addData(chunk.reverse.toSeq: _*)
      q.processAllAvailable()
    }
    input.addData(Scd2Event(999999L, 999999L,
      Timestamp.valueOf("2030-01-01 00:00:00"), "view"))
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("select * from trans_stream").as[TransitionPair]
      .collect()
      .groupBy(p => (p.src_type, p.dst_type))
      .map { case (k, v) => k -> v.length.toLong }
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("readStream.format(\"warcgz\"): Structured Streaming file " +
       "discovery ingests a shard dropped in AFTER the stream " +
       "starts — the continuously-landing-crawl entry point") {
    val s = spark
    val dir = java.nio.file.Files
      .createTempDirectory("graft-warcgz-stream").toFile
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    def rec(body: String): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: resource\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body")
        .getBytes("US-ASCII")
    def drop(name: String, bodies: String*): Unit = {
      val f = new java.io.FileOutputStream(
        new java.io.File(dir, name))
      bodies.foreach(b => f.write(gz(rec(b))))
      f.close()
    }
    drop("a.warc.gz", "early-1", "early-2")
    val stream = s.readStream
      .schema(org.apache.spark.sql.graftext.WarcGzFileFormat.schema)
      .format("warcgz").load(dir.getAbsolutePath)
    val out = graft.sources.Warc.parseRecordRows(stream)
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("warc_stream")
      .outputMode("append").start()
    q.processAllAvailable()
    def bodies() = s.sql("select * from warc_stream").collect()
      .map(r => new String(r.getAs[Array[Byte]]("payload"),
        "US-ASCII")).toSet
    assert(bodies() == Set("early-1", "early-2"))
    // a shard landing AFTER the stream started is discovered and
    // ingested incrementally — no restart, no re-read of a.warc.gz
    drop("b.warc.gz", "late-1")
    q.processAllAvailable()
    q.stop()
    assert(bodies() == Set("early-1", "early-2", "late-1"))
  }

  test("read_stream_avro: newly-landing avro containers ingest " +
       "incrementally through a full streaming job config") {
    import graft.operators.Pipeline
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-avro-stream")
    val srcDir = java.nio.file.Files
      .createDirectory(base.resolve("in"))
    // land one container atomically: write via the batch format into
    // scratch, move the part file in (the standard landing pattern)
    def land(ids: Seq[Long], tag: String): Unit = {
      val tmp = base.resolve("w" + tag).toString
      ids.toDF("id")
        .select(col("id"), concat(lit("v"), col("id")).as("s"))
        .coalesce(1).write.format("graftavro").mode("overwrite")
        .save(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".avro")).head
      java.nio.file.Files.move(part.toPath,
        srcDir.resolve(tag + ".avro"))
    }
    land(1L to 5L, "a")
    val q = Pipeline.startStreamJson(s,
      s"""[
         |  {"op": "read_stream_avro",
         |   "params": {"path": "$srcDir",
         |              "schema": "id BIGINT, s STRING"}},
         |  {"op": "filter", "params": {"condition": "id % 2 = 1"}},
         |  {"op": "write_stream_memory",
         |   "params": {"name": "avro_stream"}}
         |]""".stripMargin)
    q.processAllAvailable()
    def got() = s.sql("select id, s from avro_stream").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got() == Set((1L, "v1"), (3L, "v3"), (5L, "v5")))
    // a shard landing AFTER start is discovered and ingested
    land(6L to 9L, "b")
    q.processAllAvailable()
    q.stop()
    assert(got() == Set((1L, "v1"), (3L, "v3"), (5L, "v5"),
      (7L, "v7"), (9L, "v9")))
  }

  test("startStreamJson: a COMPLETE streaming job from pure JSON — " +
       "warcgz file discovery -> parse -> gate -> memory sink — " +
       "ingests shards landing after start; malformed configs " +
       "reject before the source is touched") {
    import graft.operators.Pipeline
    val s = spark
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream-job").toFile
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    def rec(body: String): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: resource\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n$body")
        .getBytes("US-ASCII")
    def drop(name: String, bodies: String*): Unit = {
      val f = new java.io.FileOutputStream(new java.io.File(dir, name))
      bodies.foreach(b => f.write(gz(rec(b))))
      f.close()
    }
    drop("a.warc.gz", "keep me please", "no")
    val cfg =
      s"""[
         |  {"op": "read_stream_warcgz",
         |   "params": {"path": "${dir.getAbsolutePath}"}},
         |  {"op": "parse_warc_records"},
         |  {"op": "with_column",
         |   "params": {"name": "body",
         |              "expr": "decode(payload, 'UTF-8')"}},
         |  {"op": "filter", "params": {"condition": "length(body) > 5"}},
         |  {"op": "select", "params": {"cols": ["rec_id", "body"]}},
         |  {"op": "write_stream_memory", "params": {"name": "cfg_job"}}
         |]""".stripMargin
    val q = Pipeline.startStreamJson(s, cfg)
    q.processAllAvailable()
    def bodies() = s.sql("select body from cfg_job").collect()
      .map(_.getString(0)).toSet
    assert(bodies() == Set("keep me please"))
    drop("b.warc.gz", "late but long enough", "tiny")
    q.processAllAvailable()
    q.stop()
    assert(bodies() == Set("keep me please", "late but long enough"))
    // config errors surface BEFORE any stream starts, naming the
    // whitelists: bad source, bad sink, non-streamable transform
    val badSrc = intercept[IllegalArgumentException] {
      Pipeline.startStreamJson(s,
        """[{"op": "read_parquet", "params": {"path": "/tmp/x"}},
          |  {"op": "write_stream_memory", "params": {"name": "z"}}]"""
          .stripMargin)
    }
    assert(badSrc.getMessage.contains("streaming source") &&
      badSrc.getMessage.contains("read_stream_warcgz"))
    val badSink = intercept[IllegalArgumentException] {
      Pipeline.startStreamJson(s,
        s"""[{"op": "read_stream_warcgz",
           |  "params": {"path": "${dir.getAbsolutePath}"}},
           |  {"op": "write_parquet", "params": {"path": "/tmp/x"}}]"""
          .stripMargin)
    }
    assert(badSink.getMessage.contains("streaming sink") &&
      badSink.getMessage.contains("write_stream_parquet"))
    val badStep = intercept[IllegalArgumentException] {
      Pipeline.startStreamJson(s,
        s"""[{"op": "read_stream_warcgz",
           |  "params": {"path": "${dir.getAbsolutePath}"}},
           |  {"op": "drop_exact_duplicates"},
           |  {"op": "write_stream_memory", "params": {"name": "z"}}]"""
          .stripMargin)
    }
    assert(badStep.getMessage.contains("not streamable"))
  }

  test("fromJsonStreaming: a config-run ingest gate (token gate + " +
       "dup gate + stored logistic scorer) on a stream equals the " +
       "batch pipeline on the same rows; non-streamable steps are " +
       "rejected eagerly by name") {
    import graft.operators.{ModelStore, Pipeline, TextClassify}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val docsDf = s.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(80).select("doc_id", "lang", "text")
    val modelPath = java.nio.file.Files
      .createTempDirectory("graft-pipe-stream").toString + "/logreg"
    ModelStore.writeLogisticModel(
      TextClassify.trainLogisticHashed(
        docsDf.withColumn("is_en", col("lang") === "en"),
        "doc_id", "text", "is_en", dim = 8, iters = 2), modelPath)
    val cfg =
      s"""[
         |  {"op": "token_count"},
         |  {"op": "dup_ngram_fraction",
         |   "params": {"n": 2, "out_col": "dup2"}},
         |  {"op": "filter",
         |   "params": {"condition": "n_tokens >= 20 AND dup2 <= 0.2"}},
         |  {"op": "score_logistic_stored",
         |   "params": {"model_path": "$modelPath"}}
         |]""".stripMargin
    val batch = Pipeline.fromJson(cfg)(docsDf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val input = MemoryStream[LangDoc]
    val out = Pipeline.fromStepsStreaming(Pipeline.parse(cfg))(input.toDF())
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("pipe_stream")
      .outputMode("append").start()
    val rows = docsDf.collect().map(r =>
      LangDoc(r.getLong(0), r.getString(1), r.getString(2)))
    input.addData(rows.take(40).toSeq: _*)
    q.processAllAvailable()
    input.addData(rows.drop(40).toSeq: _*)
    q.processAllAvailable()
    q.stop()
    val got = s.sql("select * from pipe_stream").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == batch && got.nonEmpty)
    // non-streamable steps reject at compile time, naming themselves
    // AND the streamable whitelist
    val e = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Pipeline.parse(
        """[{"op": "drop_exact_duplicates"}, {"op": "token_count"},
          |  {"op": "bm25_from_index",
          |   "params": {"index_path": "/tmp/x", "k": 5}}]"""
          .stripMargin))
    }
    assert(e.getMessage.contains("not streamable") &&
      e.getMessage.contains("drop_exact_duplicates") &&
      e.getMessage.contains("bm25_from_index") &&
      e.getMessage.contains("token_count")) // listed as AVAILABLE
    // extra entries must be DECLARED stream-safe to pass the gate
    val tag = Pipeline.OpSpec(Set(), Set(),
      _ => df => df.withColumn("tagged", lit(1)))
    assertThrows[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Seq(Pipeline.Step("tag")),
        extra = Map("tag" -> tag))
    }
    val gated = Pipeline.fromStepsStreaming(Seq(Pipeline.Step("tag")),
      extra = Map("tag" -> tag.copy(streaming = Pipeline.Streamable())))
    assert(gated(input.toDF()).isStreaming)
  }

  test("expect_condition gates a RUNNING stream: the PlanAnchor " +
       "wrapper is stream-legal, satisfied rows flow, a violating " +
       "micro-batch fails the query with the gate name") {
    import graft.operators.Pipeline
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val input = MemoryStream[(Long, Long)]
    val out = Pipeline.fromStepsStreaming(Seq(Pipeline.Step(
      "expect_condition",
      Map("condition" -> "v > 0", "name" -> "v_pos_stream"))))(
      input.toDS().toDF("k", "v"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("gate_stream")
      .outputMode("append").start()
    input.addData((1L, 5L), (2L, 7L))
    q.processAllAvailable()
    assert(s.sql("select * from gate_stream").count() == 2)
    input.addData((3L, -1L))
    val e = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] { q.processAllAvailable() }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + msgs(t.getCause)
    assert(msgs(e).contains("v_pos_stream"))
    q.stop()
  }

  test("startGatedUnified: store-failures gates on a stream match batch") {
    // survivors equal the batch twin, each gate's violations (incl.
    // NULL conditions, sequenced after earlier gates) land per-batch
    // under gate=<name>, replays overwrite their own batch
    import graft.operators.Pipeline
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft-quar-stream")
    val qBatch = base.resolve("batch").toString
    val qStream = base.resolve("stream").toString
    def cfg(qdir: String): String =
      s"""[
         |  {"op": "with_column",
         |   "params": {"name": "v2", "expr": "v * 2"}},
         |  {"op": "expect_condition",
         |   "params": {"condition": "v > 0", "name": "v_pos",
         |              "quarantine_path": "$qdir"}},
         |  {"op": "expect_condition",
         |   "params": {"condition": "v2 < 100", "name": "v2_cap",
         |              "quarantine_path": "$qdir"}},
         |  {"op": "filter", "params": {"condition": "k % 2 = 0"}}
         |]""".stripMargin
    // NULL v: a violation of gate v_pos in quarantine mode too
    val rows = Seq((2L, Some(5L)), (4L, Some(-1L)), (6L, Some(60L)),
      (3L, Some(7L)), (8L, None), (10L, Some(-3L)), (12L, Some(8L)))
    val batchDf = rows.toDF("k", "v")
    val batchKept = Pipeline.fromJson(cfg(qBatch))(batchDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def gateRows(root: String, gate: String): Set[(Long, Long)] =
      s.read.parquet(s"$root/gate=$gate").select("k", "v")
        .na.fill(Map("v" -> -999L))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // streaming: ONE query splits every micro-batch at both gates
    val input = MemoryStream[(Long, Option[Long])]
    val survivors = base.resolve("survivors").toString
    val q = Pipeline.startStream(input.toDS().toDF("k", "v"),
      Pipeline.parse(cfg(qStream)) :+
        Pipeline.Step("write_stream_parquet", Map("path" -> survivors,
          "checkpoint" -> base.resolve("ckpt").toString)))
    input.addData(rows.take(4): _*)
    q.processAllAvailable()
    input.addData(rows.drop(4): _*)
    q.processAllAvailable()
    q.stop()
    // survivors match the batch twin exactly
    val got = s.read.parquet(survivors).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batchKept && got.nonEmpty)
    // per-gate violations match the batch twin's gate tables —
    // v_pos holds v<=0 AND the NULL row; v2_cap only v_pos SURVIVORS
    // (sequenced), so the v=-1 row appears once, under v_pos
    assert(gateRows(qStream, "v_pos") == gateRows(qBatch, "v_pos"))
    assert(gateRows(qStream, "v2_cap") == gateRows(qBatch, "v2_cap"))
    assert(gateRows(qStream, "v_pos") ==
      Set((4L, -1L), (8L, -999L), (10L, -3L)))
    assert(gateRows(qStream, "v2_cap") == Set((6L, 60L)))
    // the layout is per-micro-batch: batch=<id> partition dirs
    val vPosDirs = new java.io.File(s"$qStream/gate=v_pos")
      .listFiles().map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(vPosDirs.size >= 2)
    // a gate that quarantined nothing in a micro-batch writes nothing
    // for it: v2_cap's only violation arrived in batch 0
    assert(new java.io.File(s"$qStream/gate=v2_cap/batch=0").isDirectory)
    assert(!new java.io.File(s"$qStream/gate=v2_cap/batch=1").exists())
    // replaying a batch id OVERWRITES its own table — no double rows
    val replayDir = base.resolve("replay").toString
    val d = Seq((1L, 2L)).toDF("k", "v")
    Pipeline.writeBatchTable(d, replayDir, 7L)
    Pipeline.writeBatchTable(d, replayDir, 7L)
    assert(s.read.parquet(replayDir).count() == 1)
    // and a replay that finds the gate empty leaves no table behind
    Pipeline.clearBatchTable(s, replayDir, 7L)
    assert(!new java.io.File(s"$replayDir/batch=7").exists())
  }

  test("merge_stream_snapshot: the CDC sink runs from a pure-JSON " +
       "streaming job config") {
    import graft.operators.Pipeline
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft-cdc-cfg")
    val snapPath = base.resolve("snap").toString
    val srcDir = base.resolve("in").toString
    Seq((1L, "a", 10, 0L), (2L, "b", 20, 0L))
      .toDF("id", "s", "v", "seq")
      .coalesce(1).write.parquet(snapPath)
    // a parquet-file change stream: drop one change file in
    Seq(CdcChg(2, 3, "upsert", "b2", 22), CdcChg(4, 1, "upsert", "d", 40))
      .toDF().coalesce(1).write.parquet(srcDir)
    val q = Pipeline.startStreamJson(s,
      s"""[
         |  {"op": "read_stream_parquet",
         |   "params": {"path": "$srcDir", "schema":
         |     "id BIGINT, seq BIGINT, op STRING, s STRING, v INT"}},
         |  {"op": "merge_stream_snapshot",
         |   "params": {"snapshot_path": "$snapPath",
         |              "checkpoint": "${base.resolve("ck")}",
         |              "key_cols": ["id"]}}
         |]""".stripMargin)
    q.processAllAvailable()
    q.stop()
    val got = s.read.parquet(snapPath).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("s")).toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 4L -> "d"))
  }

  test("host_graph_windowed: the live host-graph config step — " +
       "closed windows carry the batch run of the same body (counts " +
       "exact, page distincts the same deterministic sketch)") {
    import graft.operators.Pipeline
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def row(id: Long, sN: Int, dN: Int, ts: String) =
      (id, s"https://site$sN.example.com/p$id",
        s"https://Dst$dN.example.org:443/x#frag",
        Timestamp.valueOf(ts))
    val w0 = Seq(row(1, 1, 1, "2024-01-01 00:05:00"),
      row(2, 1, 1, "2024-01-01 00:40:00"),
      row(2, 1, 2, "2024-01-01 00:45:00"),
      (9L, "notaurl", "https://d.example.org/",
        Timestamp.valueOf("2024-01-01 00:50:00"))) // drops: bad src
    val w1 = Seq(row(3, 2, 1, "2024-01-01 01:10:00"))
    val cfg =
      """[{"op": "host_graph_windowed",
        |  "params": {"watermark_delay": "30 minutes",
        |             "src_col": "src_url",
        |             "dst_url_col": "href_abs"}}]""".stripMargin
    val input = MemoryStream[(Long, String, String, Timestamp)]
    val out = Pipeline.fromStepsStreaming(Pipeline.parse(cfg))(
      input.toDF().toDF("doc_id", "src_url", "href_abs", "ts"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("cfg_hg")
      .outputMode("append").start()
    input.addData(w0: _*); q.processAllAvailable()
    input.addData(w1: _*); q.processAllAvailable()
    input.addData(row(8, 6, 6, "2024-01-01 12:00:00"))
    q.processAllAvailable()
    input.addData(row(8, 6, 6, "2024-01-01 13:00:00"))
    q.processAllAvailable()
    q.stop()
    def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getString(2), r.getLong(3), r.getLong(4))).toSet
    val got = shape(s.sql("select * from cfg_hg where window_start " +
      "< timestamp '2024-01-01 02:00:00'"))
    // the batch run of the SAME config body over the closed windows'
    // rows (withWatermark is a no-op on a batch frame)
    val batch = shape(Pipeline.fromJson(cfg)(
      (w0 ++ w1).toDF("doc_id", "src_url", "href_abs", "ts"))
      .filter(col("window_start") <
        lit(Timestamp.valueOf("2024-01-01 02:00:00"))))
    assert(got == batch && got.nonEmpty)
    // the hostOf grammar did its work: port + fragment stripped,
    // lowercased; the bad-src edge dropped
    assert(got.map(_._2).subsetOf(
      Set("site1.example.com", "site2.example.com")))
    assert(got.map(_._3).subsetOf(
      Set("dst1.example.org", "dst2.example.org")))
    // window-0 site1 -> dst1 has two links from two pages
    assert(got.exists(r => r._2 == "site1.example.com" &&
      r._3 == "dst1.example.org" && r._4 == 2L))
  }

  test("windowed_stats_watermarked: a STATEFUL step from pure config " +
       "— append-mode finalized windows == batch windowed_stats on " +
       "the same rows; missing watermark stays non-streamable") {
    import graft.operators.{Events, Pipeline}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val cfg =
      """[{"op": "windowed_stats_watermarked",
        |  "params": {"watermark_delay": "30 minutes",
        |             "window_length": "1 hour"}}]""".stripMargin
    val input = MemoryStream[Ev]
    val out = Pipeline.fromStepsStreaming(Pipeline.parse(cfg))(input.toDF())
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("cfg_win")
      .outputMode("append").start()
    val early = Seq(
      Ev(1, Timestamp.valueOf("2024-01-01 00:05:00"), 7, "click", 1.5),
      Ev(2, Timestamp.valueOf("2024-01-01 00:55:00"), 7, "click", 2.0),
      Ev(3, Timestamp.valueOf("2024-01-01 01:05:00"), 8, "view", 3.0))
    input.addData(early: _*)
    q.processAllAvailable()
    // push the watermark past hour-0 and hour-1: both finalize
    val late = Seq(
      Ev(4, Timestamp.valueOf("2024-01-01 05:00:00"), 9, "view", 4.0))
    input.addData(late: _*)
    q.processAllAvailable()
    q.stop()
    val got = s.sql("select window_start, event_type, n_events, " +
        "sum_value from cfg_win").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    // the batch run of the SAME config body over the finalized rows
    val batchDf = (early).toDF()
    val batch = Pipeline.fromJson(cfg)(batchDf).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(got == batch && got.nonEmpty)
    // and the config body IS Events.windowedStats on a batch frame
    // (withWatermark is a no-op in batch)
    val direct = Events.windowedStats(batchDf, "ts", "1 hour")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(batch == direct)
    // the UNwatermarked aggregate stays rejected by name
    val e = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Pipeline.parse(
        """[{"op": "windowed_stats"}]"""))
    }
    assert(e.getMessage.contains("not streamable") &&
      e.getMessage.contains("windowed_stats_watermarked"))
  }

  test("fromStepsStreaming rejects non-deterministic SQL in filter/" +
       "with_column eagerly (micro-batch retries would emit " +
       "divergent rows); deterministic expressions still compile") {
    import graft.operators.Pipeline
    val nd = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Seq(
        Pipeline.Step("with_column",
          Map("name" -> "r", "expr" -> "rand(42)"))))
    }
    assert(nd.getMessage.contains("non-deterministic") &&
      nd.getMessage.contains("rand"))
    val ndFilter = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Seq(
        Pipeline.Step("filter",
          Map("condition" -> "uuid() > 'a' OR length(text) > 3"))))
    }
    assert(ndFilter.getMessage.contains("uuid"))
    // nested inside a deterministic wrapper is still caught
    val nested = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Seq(
        Pipeline.Step("with_column",
          Map("name" -> "b", "expr" -> "abs(randn() * 2)"))))
    }
    assert(nested.getMessage.contains("randn"))
    // deterministic expressions (incl. hash-derived sampling, the
    // recommended substitute) compile fine
    Pipeline.fromStepsStreaming(Seq(
      Pipeline.Step("with_column",
        Map("name" -> "h", "expr" -> "abs(hash(text)) % 100")),
      Pipeline.Step("filter",
        Map("condition" -> "h < 50 AND upper(lang) = 'EN'"))))
    // batch compile is untouched: rand() is legal in fromSteps
    Pipeline.fromSteps(Seq(
      Pipeline.Step("with_column",
        Map("name" -> "r", "expr" -> "rand(42)"))))
  }

  test("windowed_quantiles_watermarked: the second STATEFUL config " +
       "step — closed windows from pure JSON carry the exact batch " +
       "quantiles") {
    import graft.operators.Pipeline
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val ev = graft.sources.Sources.events(s, "/root/testdata/sf0.001")
      .limit(200).select("event_id", "event_type", "ts", "value")
    val rows = ev.collect().map(r => (r.getLong(0), r.getString(1),
      r.getTimestamp(2), r.getDouble(3)))
    val qs = Seq(0.5, 0.99)
    val batch = graft.operators.Stats.quantileStats(
        ev.withColumn("w", window(col("ts"), "6 hours"))
          .select(col("w.start").as("window_start"), col("event_type"),
            col("value")),
        "value", qs, groupCols = Seq("window_start", "event_type"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getDouble(2)) -> r.getDouble(3)).toMap
    val cfg =
      """[{"op": "windowed_quantiles_watermarked",
        |  "params": {"watermark_delay": "30 days",
        |             "qs": [0.5, 0.99],
        |             "window_length": "6 hours",
        |             "group_cols": ["event_type"]}}]""".stripMargin
    val input = MemoryStream[(Long, String, Timestamp, Double)]
    val out = Pipeline.fromStepsStreaming(Pipeline.parse(cfg))(
      input.toDF().toDF("event_id", "event_type", "ts", "value"))
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("cfg_wq")
      .outputMode("append").start()
    (0 until 2).foreach { c =>
      input.addData(rows.filter(_._1 % 2 == c.toLong).toSeq: _*)
      q.processAllAvailable()
    }
    input.addData((900L, "zz",
      Timestamp.valueOf("2030-01-01 00:00:00"), 0.0))
    q.processAllAvailable()
    input.addData((901L, "zz",
      Timestamp.valueOf("2030-01-02 00:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql(
        "select * from cfg_wq where event_type <> 'zz'").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getDouble(2)) -> r.getDouble(3)).toMap
    assert(streamed == batch && streamed.nonEmpty)
    // the unwatermarked quantile aggregate has no config spelling at
    // all: the registry only admits the watermarked form
    val e = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Pipeline.parse(
        """[{"op": "windowed_quantiles"}]"""))
    }
    assert(e.getMessage.contains("unknown op") ||
      e.getMessage.contains("not streamable"))
  }

  test("trending_tokens_watermarked: the third STATEFUL config step " +
       "— per-window top-k from pure JSON equals the direct " +
       "operator's exact-regime ranking") {
    import graft.operators.Pipeline
    import graft.streaming.StreamOps.{StreamDoc, TrendOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def d(id: Long, ts: String, text: String) =
      StreamDoc(id, text, Timestamp.valueOf(ts))
    val w0 = Seq(d(1, "2024-01-01 00:05:00", "alpha alpha beta"),
      d(2, "2024-01-01 00:40:00", "alpha gamma beta"))
    val w1 = Seq(d(3, "2024-01-01 01:10:00", "burst burst burst alpha"),
      d(4, "2024-01-01 01:50:00", "burst delta"))
    val cfg =
      """[{"op": "trending_tokens_watermarked",
        |  "params": {"watermark_delay": "30 minutes",
        |             "window_seconds": 3600, "top_k": 3}}]""".stripMargin
    val input = MemoryStream[StreamDoc]
    val out = Pipeline.fromStepsStreaming(Pipeline.parse(cfg))(input.toDF())
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("cfg_trend")
      .outputMode("append").start()
    input.addData(w0: _*); q.processAllAvailable()
    input.addData(w1: _*); q.processAllAvailable()
    input.addData(d(9, "2024-01-01 12:00:00", "x"))
    q.processAllAvailable()
    input.addData(d(9, "2024-01-01 13:00:00", "x"))
    q.processAllAvailable()
    q.stop()
    val got = s.sql("select * from cfg_trend where window_start < " +
        "timestamp '2024-01-01 02:00:00'")
      .as[TrendOut].collect()
      .groupBy(_.window_start.toString)
      .map { case (k, v) => k -> v.sortBy(_.rank)
        .map(o => (o.rank, o.token, o.cnt)).toSeq }
    assert(got("2024-01-01 00:00:00.0") ==
      Seq((1, "alpha", 3L), (2, "beta", 2L), (3, "gamma", 1L)))
    assert(got("2024-01-01 01:00:00.0") ==
      Seq((1, "burst", 4L), (2, "alpha", 1L), (3, "delta", 1L)))
    assert(got.size == 2)
  }

  test("sessionize_watermarked: the stateful sessionization config " +
       "step equals the direct sessionizeStream on the same feed") {
    import graft.operators.Pipeline
    import graft.streaming.StreamOps.{SessionEvent, SessionOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(u: Long, id: Long, ts: String) =
      SessionEvent(u, id, Timestamp.valueOf(ts))
    val feed = Seq(
      Seq(ev(7, 1, "2024-01-01 00:00:00"), ev(7, 2, "2024-01-01 00:10:00")),
      Seq(ev(7, 3, "2024-01-01 02:00:00"), ev(8, 4, "2024-01-01 02:05:00")),
      Seq(ev(9, 9, "2024-01-01 20:00:00")),
      Seq(ev(9, 10, "2024-01-02 09:00:00")))
    def run(mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, name: String) = {
      val input = MemoryStream[SessionEvent]
      val q = mk(input.toDF()).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      feed.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      s.sql(s"select * from $name").as[SessionOut].collect().toSet
    }
    val cfg = Pipeline.fromStepsStreaming(Pipeline.parse(
      """[{"op": "sessionize_watermarked",
        |  "params": {"watermark_delay": "0 seconds",
        |             "gap_seconds": 1800}}]""".stripMargin))
    val viaCfg = run(cfg, "cfg_sess")
    val direct = run(df => graft.streaming.StreamOps.sessionizeStream(
      df.withWatermark("ts", "0 seconds").as[SessionEvent],
      1800L).toDF(), "direct_sess")
    assert(viaCfg == direct && viaCfg.nonEmpty)
    // batch-parity anchor: user 7's closed first session is right
    assert(viaCfg.exists(o => o.user_id == 7 && o.n_events == 2))
  }

  test("first_seen_flags_watermarked + drop_duplicates_watermarked: " +
       "streaming dedup by key — deterministic first-seen flags " +
       "(arrival order, in-batch tiebreak), state expiry at " +
       "watermark + retention, batch twin = row_number order, and " +
       "composition with the gated contract quarantines duplicates") {
    import graft.operators.Pipeline
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(id: Long, u: Long, ts: String) =
      Ev(id, Timestamp.valueOf(ts), u, "t", 0.0)
    // u=1 duplicated within batch 1 (tiebreak by (ts, event_id)) AND
    // again in batch 2 — the 2 s watermark delay keeps u=1's state
    // alive across the batch boundary (with delay 0 the watermark
    // passes its newest occurrence immediately and the batch-2 copy
    // would legitimately count as first again); u=2 once; u=3
    // arrives in batch 2, then its state EXPIRES (batch 3 advances
    // the watermark hours past its ts + retention 0) and a
    // re-arrival in batch 5 is first again
    val batches = Seq(
      Seq(ev(11, 1, "2024-01-01 00:00:02"),
        ev(10, 1, "2024-01-01 00:00:01"),
        ev(20, 2, "2024-01-01 00:00:03")),
      Seq(ev(12, 1, "2024-01-01 00:00:04"),
        ev(30, 3, "2024-01-01 00:00:05")),
      Seq(ev(40, 4, "2024-01-01 09:00:00")), // advances the watermark
      Seq(ev(41, 4, "2024-01-01 09:00:02")), // u=3 timer fires here
      Seq(ev(31, 3, "2024-01-01 09:00:03"))) // u=3 re-arrival
    def runFlags(name: String): Map[Long, Boolean] = {
      val input = MemoryStream[Ev]
      val chain = Pipeline.fromStepsStreaming(Pipeline.parse(
        """[{"op": "first_seen_flags_watermarked",
          |  "params": {"keys": ["user_id"],
          |             "watermark_delay": "2 seconds",
          |             "order_cols": ["ts", "event_id"]}}]"""
          .stripMargin))
      val q = chain(input.toDF()).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      s.sql(s"select event_id, is_first from $name").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    val flags = runFlags("fsf_stream")
    assert(flags == Map(10L -> true, 11L -> false, 20L -> true,
      12L -> false, 30L -> true, 40L -> true, 41L -> false,
      31L -> true)) // state expired: first again
    // batch twin on batches 1+2 (no expiry in range): global
    // (ts, event_id) order first-per-key — equals the stream's flags
    // on the in-order feed
    val batchTwin = Pipeline.fromJson(
      """[{"op": "first_seen_flags_watermarked",
        |  "params": {"keys": ["user_id"],
        |             "watermark_delay": "2 seconds",
        |             "order_cols": ["ts", "event_id"]}}]"""
        .stripMargin)(batches.take(2).flatten.toDF())
      .select("event_id", "is_first").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(batchTwin ==
      flags.view.filterKeys(Set(10L, 11L, 12L, 20L, 30L)).toMap)
    // drop_duplicates_watermarked keeps exactly one row per LIVE key
    // (delay 1 hour: no state evicts inside the two batches — a 0 s
    // delay would evict each key as soon as the watermark passes it)
    val input2 = MemoryStream[Ev]
    val dd = Pipeline.fromStepsStreaming(Pipeline.parse(
      """[{"op": "drop_duplicates_watermarked",
        |  "params": {"keys": ["user_id"],
        |             "watermark_delay": "1 hour"}}]""".stripMargin))(
      input2.toDF())
    val q2 = dd.writeStream.format("memory").queryName("ddw_stream")
      .outputMode("append").start()
    batches.take(2).foreach { b =>
      input2.addData(b: _*); q2.processAllAvailable()
    }
    q2.stop()
    assert(s.sql("select user_id from ddw_stream").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // composition: first-seen flags + gated expect_condition =
    // duplicates QUARANTINED instead of silently dropped. The stateful
    // step must PRECEDE the gate: from the first gate on, steps
    // re-apply per materialized micro-batch, so the runner REJECTS a
    // stateful step placed after it
    val quar = java.nio.file.Files
      .createTempDirectory("graft-fsf-quar").toString
    val flagStep =
      """{"op": "first_seen_flags_watermarked",
        |  "params": {"keys": ["user_id"],
        |             "watermark_delay": "2 seconds",
        |             "order_cols": ["ts", "event_id"]}}""".stripMargin
    val gateStep =
      s"""{"op": "expect_condition",
         |  "params": {"condition": "is_first", "name": "unique_user",
         |             "quarantine_path": "$quar"}}""".stripMargin
    val gatedCfg = s"[$flagStep, $gateStep]"
    def ck(): String = java.nio.file.Files
      .createTempDirectory("graft-fsf-ck").toString
    val rejected = intercept[IllegalArgumentException] {
      Pipeline.startStream(MemoryStream[Ev].toDF(),
        Pipeline.parse(s"[$gateStep, $flagStep]") :+
        Pipeline.Step("write_stream_parquet", Map("path" -> quar,
          "checkpoint" -> ck())))
    }
    assert(rejected.getMessage.contains("batch-boundary-sensitive") &&
      rejected.getMessage.contains("first_seen_flags_watermarked"))
    // ...and the UNIFIED runner handles the stateful-then-gate
    // order: ONE query, gate store and survivors sink both fed from
    // the same materialized batch
    val input3 = MemoryStream[Ev]
    val survivors = java.nio.file.Files
      .createTempDirectory("graft-fsf-out").toString
    val q3 = Pipeline.startStream(input3.toDF(),
      Pipeline.parse(gatedCfg) :+
        Pipeline.Step("write_stream_parquet", Map("path" -> survivors,
          "checkpoint" -> ck())))
    batches.take(2).foreach { b =>
      input3.addData(b: _*); q3.processAllAvailable()
    }
    q3.stop()
    assert(s.read.parquet(survivors).select("user_id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    assert(s.read.parquet(s"$quar/gate=unique_user")
      .select("event_id").collect().map(_.getLong(0)).toSet ==
      Set(11L, 12L))
    // survivors land per-micro-batch (batch=<id> partition dirs),
    // the replay-idempotent layout shared with the gate store
    assert(new java.io.File(survivors).listFiles()
      .map(_.getName).count(_.startsWith("batch=")) >= 2)
    // typo'd params on a GATED step throw at config time — the gate
    // bypasses compileStep but runs the same param-set validation
    val typo = intercept[IllegalArgumentException] {
      Pipeline.startStream(MemoryStream[Ev].toDF(),
        Pipeline.parse(
          s"""[{"op": "expect_condition",
             |  "params": {"condition": "true", "name": "g",
             |             "quarantine_path": "$quar",
             |             "qurantine_pth": "oops"}}]""".stripMargin) :+
        Pipeline.Step("write_stream_parquet", Map("path" -> quar,
          "checkpoint" -> ck())))
    }
    assert(typo.getMessage.contains("unknown params") &&
      typo.getMessage.contains("qurantine_pth"))
    // a colliding flag_col is rejected on BOTH faces (batch
    // withColumn would replace, stream schema.add would duplicate —
    // the two faces must agree, so neither is allowed)
    val collide = intercept[IllegalArgumentException] {
      Pipeline.fromStepsStreaming(Pipeline.parse(
        """[{"op": "first_seen_flags_watermarked",
          |  "params": {"keys": ["user_id"],
          |             "watermark_delay": "2 seconds",
          |             "order_cols": ["ts", "event_id"],
          |             "flag_col": "user_id"}}]""".stripMargin))(
        batches.head.toDF())
    }
    assert(collide.getMessage.contains("already exists"))
  }

  test("a complete gated streaming job config runs as ONE query") {
    // file stream source, stateful first-seen prefix, quarantine
    // gate, parquet survivors sink: survivors + quarantined partition
    // the input; non-parquet sinks reject
    import graft.operators.Pipeline
    val s = spark
    val base = java.nio.file.Files
      .createTempDirectory("graft-unified-cfg")
    // stage the real sf0.001 events shard as the stream directory
    val srcDir = java.nio.file.Files
      .createDirectory(base.resolve("src"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      srcDir.resolve("events.parquet"))
    val quar = base.resolve("quar").toString
    val out = base.resolve("out").toString
    def cfg(sinkOp: String): String =
      s"""[{"op": "read_stream_parquet",
         |  "params": {"path": "$srcDir",
         |             "schema": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"}},
         | {"op": "first_seen_flags_watermarked",
         |  "params": {"keys": ["user_id"],
         |             "watermark_delay": "10 minutes",
         |             "order_cols": ["ts", "event_id"]}},
         | {"op": "expect_condition",
         |  "params": {"condition": "is_first", "name": "first_only",
         |             "quarantine_path": "$quar"}},
         | {"op": "select",
         |  "params": {"cols": ["event_id", "user_id"]}},
         | {"op": "$sinkOp",
         |  "params": ${
           if (sinkOp == "write_stream_parquet")
             s"""{"path": "$out", "checkpoint": "$base/ckpt"}"""
           else """{"name": "nope"}"""}}
         |]""".stripMargin
    // the runner owns the survivors write: only the parquet sink
    val badSink = intercept[IllegalArgumentException] {
      Pipeline.startStreamJsonGatedUnified(s, cfg("write_stream_memory"))
    }
    assert(badSink.getMessage.contains("write_stream_parquet"))
    val q = Pipeline.startStreamJsonGatedUnified(s,
      cfg("write_stream_parquet"))
    try q.processAllAvailable() finally q.stop()
    val surv = s.read.parquet(out)
    val dups = s.read.parquet(s"$quar/gate=first_only")
    val total = s.read.parquet(srcDir.toString)
    val nUsers = total.select("user_id").distinct().count()
    // one micro-batch over one shard ⇒ the flag is global
    // (ts, event_id)-order first-per-key: one survivor per user, and
    // survivors + quarantined partition the input exactly
    assert(surv.count() == nUsers)
    assert(surv.count() + dups.count() == total.count())
    assert(dups.filter("is_first").count() == 0)
    // survivors carry the post-gate SELECT's shape; quarantine holds
    // the at-gate row (flag column included)
    assert(surv.columns.toSet == Set("event_id", "user_id", "batch"))
    assert(dups.columns.contains("is_first"))
  }

  test("scd2_watermarked: the stateful SCD2 config step equals the " +
       "direct scd2Stream on the same out-of-order feed, with " +
       "arbitrary column names mapped into the event shape") {
    import graft.operators.Pipeline
    import graft.streaming.StreamOps.{Scd2Event, Scd2Out}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def ev(u: Long, id: Long, ts: String, v: String) =
      Scd2Event(u, id, Timestamp.valueOf(ts), v)
    val batches = Seq(
      Seq(ev(1, 3, "2024-01-01 02:00:00", "b"),
        ev(2, 20, "2024-01-01 01:00:00", "x")),
      Seq(ev(1, 1, "2024-01-01 00:00:00", "a"),
        ev(1, 5, "2024-01-01 04:00:00", "a"),
        ev(2, 22, "2024-01-01 05:00:00", "y")),
      Seq(ev(99, 999, "2024-01-05 00:00:00", "z")),
      Seq(ev(99, 998, "2024-01-06 00:00:00", "z")))
    def run(mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, name: String) = {
      val input = MemoryStream[Scd2Event]
      val q = mk(input.toDF()).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      s.sql(s"select * from $name where user_id < 99")
        .as[Scd2Out].collect().toSet
    }
    // the config maps renamed columns back into the event shape
    val cfg = Pipeline.fromStepsStreaming(Pipeline.parse(
      """[{"op": "scd2_watermarked",
        |  "params": {"watermark_delay": "24 hours",
        |             "key_col": "uid", "attr_col": "state",
        |             "ts_col": "ts", "tie_col": "eid"}}]""".stripMargin))
    val viaCfg = run(df => cfg(df.select(col("user_id").as("uid"),
      col("event_id").as("eid"), col("ts"),
      col("value").as("state"))), "cfg_scd2")
    val direct = run(df => graft.streaming.StreamOps.scd2Stream(
      df.withWatermark("ts", "24 hours").as[Scd2Event]).toDF(),
      "direct_scd2")
    assert(viaCfg == direct && viaCfg.nonEmpty)
  }

  test("stateful streaming tranche 4: funnel / gap_fill / " +
       "rolling_anomalies / decayed_activity / top_paths / " +
       "transition_pairs config steps equal their direct stream " +
       "operators on the same feeds") {
    import graft.operators.Pipeline
    import graft.streaming.StreamOps
    import StreamOps.{AnomEvent, FunnelEvent, Scd2Event}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    var n = 0
    def run[T <: Product : org.apache.spark.sql.Encoder](
        feed: Seq[Seq[T]],
        mk: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame,
        mode: String): Set[Seq[Any]] = {
      n += 1
      val name = s"t4_$n"
      val input = MemoryStream[T]
      val q = mk(input.toDF()).writeStream.format("memory")
        .queryName(name).outputMode(mode).start()
      feed.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      s.sql(s"select * from $name").collect().map(_.toSeq.map {
        case null => null
        case v => v
      }).toSet
    }
    def ts(t: String) = Timestamp.valueOf(t)
    def both[T <: Product : org.apache.spark.sql.Encoder](
        feed: Seq[Seq[T]], cfgJson: String,
        direct: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame,
        mode: String = "append"): Unit = {
      val viaCfg = run(feed,
        Pipeline.fromStepsStreaming(Pipeline.parse(cfgJson)), mode)
      val viaDirect = run(feed, direct, mode)
      assert(viaCfg == viaDirect && viaCfg.nonEmpty, cfgJson)
    }
    // funnel: signup -> purchase within the hour, plus sentinels
    val funnelFeed = Seq(
      Seq(FunnelEvent(1, "signup", ts("2024-01-01 00:00:00")),
        FunnelEvent(1, "purchase", ts("2024-01-01 00:30:00")),
        FunnelEvent(2, "signup", ts("2024-01-01 00:10:00"))),
      Seq(FunnelEvent(9, "signup", ts("2024-01-03 00:00:00"))),
      Seq(FunnelEvent(9, "signup", ts("2024-01-05 00:00:00"))))
    both(funnelFeed,
      """[{"op": "funnel_watermarked",
        |  "params": {"watermark_delay": "30 minutes",
        |             "steps": ["signup", "purchase"],
        |             "window_seconds": 3600}}]""".stripMargin,
      df => StreamOps.funnelStream(
        df.withWatermark("ts", "30 minutes").as[FunnelEvent],
        Seq("signup", "purchase"), 3600L).toDF())
    // the (user, id, ts, value) feed serves gap_fill / anomalies /
    // decayed activity
    val valFeed = Seq(
      Seq(AnomEvent(7, 1, ts("2024-01-01 00:00:00"), 10.0),
        AnomEvent(7, 2, ts("2024-01-01 06:30:00"), 16.0),
        AnomEvent(7, 3, ts("2024-01-01 13:00:00"), 100.0)),
      Seq(AnomEvent(9, 9, ts("2024-01-04 00:00:00"), 1.0)),
      Seq(AnomEvent(9, 10, ts("2024-01-08 00:00:00"), 1.0)))
    both(valFeed,
      """[{"op": "gap_fill_watermarked",
        |  "params": {"watermark_delay": "1 hour",
        |             "period_seconds": 21600}}]""".stripMargin,
      df => StreamOps.gapFillStream(
        df.withWatermark("ts", "1 hour").as[StreamOps.GapEvent],
        21600L).toDF())
    both(valFeed,
      """[{"op": "rolling_anomalies_watermarked",
        |  "params": {"watermark_delay": "1 hour",
        |             "n_prior": 2, "min_prior": 2,
        |             "z_threshold": 1.0}}]""".stripMargin,
      df => StreamOps.rollingAnomaliesStream(
        df.withWatermark("ts", "1 hour").as[AnomEvent],
        2, 2, 1.0).toDF())
    both(valFeed,
      """[{"op": "decayed_activity_watermarked",
        |  "params": {"watermark_delay": "1 hour",
        |             "max_events": 4}}]""".stripMargin,
      df => StreamOps.decayedActivityStream(
        df.withWatermark("ts", "1 hour").as[AnomEvent],
        4).toDF(),
      mode = "update") // the operator REFRESHES per-user scores
    // the typed (user, id, ts, value) path feed serves top_paths /
    // transition_pairs; the config maps event_type into the shape
    val pathFeed = Seq(
      Seq(Scd2Event(1, 1, ts("2024-01-01 00:00:00"), "view"),
        Scd2Event(1, 2, ts("2024-01-01 00:05:00"), "click"),
        Scd2Event(1, 3, ts("2024-01-01 00:10:00"), "purchase"),
        Scd2Event(1, 4, ts("2024-01-01 00:15:00"), "view")),
      Seq(Scd2Event(9, 9, ts("2024-01-04 00:00:00"), "view")),
      Seq(Scd2Event(9, 10, ts("2024-01-08 00:00:00"), "view")))
    val pathCfgIn: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame =
      df => df.select(col("user_id"), col("event_id"), col("ts"),
        col("value").as("event_type"))
    both(pathFeed,
      """[{"op": "top_paths_watermarked",
        |  "params": {"watermark_delay": "1 hour", "k": 3,
        |             "type_col": "value"}}]""".stripMargin,
      df => StreamOps.topPathsStream(
        df.withWatermark("ts", "1 hour").as[Scd2Event], 3).toDF())
    both(pathFeed,
      """[{"op": "transition_pairs_watermarked",
        |  "params": {"watermark_delay": "1 hour",
        |             "type_col": "value"}}]""".stripMargin,
      df => StreamOps.transitionPairsStream(
        df.withWatermark("ts", "1 hour").as[Scd2Event]).toDF())
  }

  test("kl_drift_watermarked: the stateful drift config step scores " +
       "closed windows against the persisted reference exactly like " +
       "the direct klDriftStream") {
    import graft.operators.Pipeline
    import graft.streaming.StreamOps.{DriftEvent, DriftOut}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val refPath = java.nio.file.Files
      .createTempDirectory("graft-cfg-kl").toString + "/ref"
    s.sql("""select * from values ('en'), ('en'), ('en'), ('de'),
            |  ('fr') as t(category)""".stripMargin)
      .write.parquet(refPath)
    def ev(ts: String, c: String) = DriftEvent(Timestamp.valueOf(ts), c)
    val feed = Seq(
      Seq(ev("2024-01-01 00:05:00", "en"), ev("2024-01-01 00:20:00", "de"),
        ev("2024-01-01 00:50:00", "en"), ev("2024-01-01 00:10:00", "fr")),
      Seq(ev("2024-01-01 01:30:00", "de"), ev("2024-01-01 01:05:00", "de"),
        ev("2024-01-01 01:55:00", "zz")),
      Seq(ev("2024-01-01 12:00:00", "en")),
      Seq(ev("2024-01-01 13:00:00", "en")))
    def run(mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, name: String) = {
      val input = MemoryStream[DriftEvent]
      val q = mk(input.toDF()).writeStream.format("memory")
        .queryName(name).outputMode("append").start()
      feed.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      q.stop()
      s.sql(s"select * from $name where window_start < " +
          "timestamp '2024-01-01 02:00:00'")
        .as[DriftOut].collect().toSet
    }
    val cfg = Pipeline.fromStepsStreaming(Pipeline.parse(
      s"""[{"op": "kl_drift_watermarked",
         |  "params": {"watermark_delay": "30 minutes",
         |             "reference_path": "$refPath",
         |             "window_seconds": 3600}}]""".stripMargin))
    val viaCfg = run(cfg, "cfg_kl")
    val direct = run(df => graft.streaming.StreamOps.klDriftStream(
      df.withWatermark("ts", "30 minutes").as[DriftEvent],
      s.read.parquet(refPath), windowSeconds = 3600L).toDF(),
      "direct_kl")
    assert(viaCfg == direct && viaCfg.size == 2)
  }

  test("stateful streaming tranche 5: asof_join_watermarked / " +
       "range_join_watermarked split ONE stream by condition and " +
       "equal their direct operators on the same out-of-order feed") {
    import graft.operators.Pipeline
    import graft.streaming.StreamOps.{LeftEvent, RightEvent}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    def t(ts: String) = Timestamp.valueOf(ts)
    // one interleaved feed: rights land before AND after their lefts
    val feed: Seq[Seq[(Long, Long, Timestamp, String)]] = Seq(
      Seq((1L, 10L, t("2024-01-01 01:00:00"), "purchase"),
        (1L, 100L, t("2024-01-01 00:30:00"), "click")),
      Seq((1L, 11L, t("2024-01-01 03:00:00"), "purchase"),
        (2L, 20L, t("2024-01-01 02:00:00"), "purchase")),
      Seq((1L, 101L, t("2024-01-01 02:30:00"), "click"),
        (2L, 200L, t("2024-01-01 01:45:00"), "click")),
      Seq((99L, 999L, t("2024-01-05 00:00:00"), "purchase"),
        (99L, 998L, t("2024-01-05 00:00:00"), "click")))
    def run(mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, name: String): Set[String] = {
      val in = MemoryStream[(Long, Long, Timestamp, String)]
      val q = mk(in.toDF()
          .toDF("user_id", "event_id", "ts", "event_type"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      feed.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      q.stop()
      s.sql(s"select * from $name where user_id < 99")
        .collect().map(_.mkString("|")).toSet
    }

    val asofCfg = Pipeline.fromStepsStreaming(Pipeline.parse(
      """[{"op": "asof_join_watermarked",
        |  "params": {"left_condition": "event_type = 'purchase'",
        |             "right_condition": "event_type = 'click'",
        |             "watermark_delay": "24 hours"}}]""".stripMargin))
    val asofDirect = (df: org.apache.spark.sql.DataFrame) => {
      val l = df.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
        .as[LeftEvent]
      val r = df.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("right_id"),
          col("ts"))
        .as[RightEvent]
      StreamOps.asOfJoinStream(l, r, "24 hours").toDF()
    }
    val a1 = run(asofCfg, "cfg_asof_join")
    val a2 = run(asofDirect, "direct_asof_join")
    assert(a1 == a2 && a1.nonEmpty)

    val rangeCfg = Pipeline.fromStepsStreaming(Pipeline.parse(
      """[{"op": "range_join_watermarked",
        |  "params": {"left_condition": "event_type = 'purchase'",
        |             "right_condition": "event_type = 'click'",
        |             "lower_seconds": 3600, "upper_seconds": 0,
        |             "watermark_delay": "24 hours"}}]""".stripMargin))
    val rangeDirect = (df: org.apache.spark.sql.DataFrame) =>
      StreamOps.rangeJoinStream(
        df.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id")),
        df.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"),
            col("event_id").as("right_id")),
        "user_id", "ts", 3600, 0,
        Seq("event_id"), Seq("right_id"), "24 hours")
    val r1 = run(rangeCfg, "cfg_range_join")
    val r2 = run(rangeDirect, "direct_range_join")
    assert(r1 == r2 && r1.nonEmpty)
  }

  test("stream-static enrichment through the config registry: " +
       "join_table (broadcast dim) + bloom_join equal the batch twin " +
       "on the union of all micro-batches") {
    import graft.operators.Pipeline
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dimPath = java.nio.file.Files
      .createTempDirectory("graft_dim").toString + "/dim.parquet"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "label")
      .write.mode("overwrite").parquet(dimPath)
    val json =
      s"""[{"op": "join_table",
         |  "params": {"path": "$dimPath", "on": ["k"],
         |             "broadcast": true}},
         | {"op": "bloom_join",
         |  "params": {"path": "$dimPath",
         |             "right_filter": "label != 'c'",
         |             "right_renames": [["k", "k2"],
         |                               ["label", "label2"]],
         |             "fact_key": "k", "dim_key": "k2"}},
         | {"op": "select",
         |  "params": {"cols": ["k", "v", "label", "label2"]}}
         |]""".stripMargin
    val rows =
      Seq((1L, 0.5), (2L, 1.5), (3L, 2.5), (9L, 9.9), (1L, 3.5))
    val cfg = Pipeline.fromStepsStreaming(Pipeline.parse(json))
    val in = MemoryStream[(Long, Double)]
    val q = cfg(in.toDF().toDF("k", "v")).writeStream
      .format("memory").queryName("ss_enrich")
      .outputMode("append").start()
    in.addData(rows.take(4): _*); q.processAllAvailable()
    in.addData(rows.drop(4): _*); q.processAllAvailable()
    q.stop()
    val got = s.sql("select * from ss_enrich")
      .collect().map(_.mkString("|")).toSet
    val batch = Pipeline.fromJson(json)(rows.toDF("k", "v"))
      .collect().map(_.mkString("|")).toSet
    assert(got == batch && got.nonEmpty)
    // k=9 never matched the dim; k=3 fell to the blooms' dim filter
    assert(!got.exists(_.startsWith("9|")) &&
      !got.exists(_.startsWith("3|")))
  }
}
