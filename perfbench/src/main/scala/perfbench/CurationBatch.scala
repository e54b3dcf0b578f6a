package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Pipeline

/** `curation_batch`: the LLM-data curation job through
  * `Pipeline.runJobJson` (traced: `runJobJsonAudited`), from a parquet
  * corpus with planted duplicates and junk to a split parquet output.
  * Closed loop, one client. Exercises the operators (Dedup,
  * TextAnalysis, Curation), the MinHash/shingle expressions, shuffle,
  * and a real parquet write. */
object CurationBatch {
  val Docs = 2000
  val Files = 8
  val Splits: Seq[(String, Long)] = Seq("train" -> 90L, "val" -> 5L,
    "test" -> 5L)
  val Ops: Seq[String] = Seq("normalize_text", "drop_exact_duplicates",
    "drop_near_duplicates", "token_count", "dup_ngram_fraction",
    "gopher_repetition_flags", "filter", "split_by_hash")

  def config(input: String, output: String): String = {
    val m = new ObjectMapper()
    val steps = m.createArrayNode()
    def step(op: String) = {
      val s = steps.addObject().put("op", op)
      s.putObject("params")
    }
    step("read_parquet").put("path", input)
    step("normalize_text").putArray("passthrough_cols").add("source")
    step("drop_exact_duplicates").put("text_col", "text_norm")
    step("drop_near_duplicates").put("text_col", "text_norm")
    step("token_count").put("text_col", "text_norm")
    step("dup_ngram_fraction").put("n", 3).put("text_col", "text_norm")
    val pass = step("gopher_repetition_flags").put("text_col", "text_norm")
      .putArray("passthrough_cols")
    Seq("text_norm", "source", "n_tokens", "dup3").foreach(pass.add)
    step("filter").put("condition", "keep AND n_tokens >= 50 AND dup3 < 0.2")
    val split = step("split_by_hash")
    split.putArray("key_cols").add("doc_id")
    val w = split.putArray("weights")
    Splits.foreach { case (n, p) => w.addArray().add(n).add(p) }
    step("write_parquet").put("path", output)
    m.writeValueAsString(steps)
  }

  final case class Truth(survivors: Set[Long], kinds: Map[String, Int],
                         kindOf: Map[Long, String])

  def truth(corpus: Gen.Corpus): Truth = {
    val metas = (0 until corpus.n).map(corpus.meta)
    Truth(corpus.expectedSurvivors(metas),
      metas.groupBy(m => Gen.KindNames(m.kind)).map { case (k, v) =>
        k -> v.size },
      metas.map(m => m.docId -> Gen.KindNames(m.kind)).toMap)
  }

  /** Check one job's output against the generator's ground truth: the
    * surviving ids are exactly the expected ones (every planted exact or
    * near duplicate dropped, every short or repetitive doc filtered, no
    * other doc lost) and each split's share is within five binomial
    * standard deviations of its weight. Returns the problems found. */
  def check(out: DataFrame, t: Truth): Seq[String] = {
    val rows = out.select(col("doc_id"), col("split")).collect()
    val ids = rows.map(_.getLong(0))
    val problems = Seq.newBuilder[String]
    val idSet = ids.toSet
    if (idSet.size != ids.length)
      problems += s"${ids.length - idSet.size} duplicated output rows"
    val missing = t.survivors -- idSet
    val extra = idSet -- t.survivors
    def kinds(ids: Set[Long]) = ids.toSeq.map(t.kindOf).groupBy(identity)
      .map { case (k, v) => s"$k ${v.size}" }.toSeq.sorted.mkString(", ")
    if (missing.nonEmpty)
      problems += s"${missing.size} expected docs missing (${kinds(missing)})"
    if (extra.nonEmpty)
      problems += s"${extra.size} docs that should be gone (${kinds(extra)})"
    val n = ids.length.toDouble
    val total = Splits.map(_._2).sum.toDouble
    val counts = rows.groupBy(_.getString(1)).map { case (k, v) => k -> v.length }
    (counts.keySet -- Splits.map(_._1)).foreach(k =>
      problems += s"unknown split '$k'")
    Splits.foreach { case (name, parts) =>
      val p = parts / total
      val got = counts.getOrElse(name, 0)
      if (math.abs(got - n * p) > 5 * math.sqrt(n * p * (1 - p)) + 1)
        problems += f"split $name holds $got of ${n.toLong} (expected ${p * 100}%.0f%%)"
    }
    problems.result()
  }

  def generate(spark: SparkSession, corpus: Gen.Corpus, dir: File): String = {
    val path = new File(dir, "corpus").getAbsolutePath
    corpus.frame(spark, 0, corpus.n, Files).write.parquet(path)
    path
  }

  def run(cli: Cli): Result = {
    val corpus = new Gen.Corpus(cli.seed, Docs)
    var outs = 0
    def outDir(d: File) = { outs += 1; new File(d, s"out/job$outs").getAbsolutePath }
    val (setups, spark, (input, dir)) = Harness.setUp(cli.work) { (s, d) =>
      val in = generate(s, corpus, d)
      Pipeline.runJobJson(s, config(in, outDir(d)))
      (in, d)
    }(_ => ())
    Harness.settle(6)(Pipeline.runJobJson(spark, config(input, outDir(dir))))
    val truth = this.truth(corpus)
    val outputs = scala.collection.mutable.ArrayBuffer.empty[String]
    val plainSeconds = if (cli.trace) cli.seconds / 2.0 else cli.seconds
    val walls = Harness.closedLoop(plainSeconds) { _ =>
      val o = outDir(dir)
      outputs += o
      Pipeline.runJobJson(spark, config(input, o))
    }
    var layers = Map.empty[String, Double]
    var report = Seq.empty[String]
    val spans = new Spans
    if (cli.trace) {
      val rec = new Recorder
      rec.attach(spark)
      val extra = Tracing.registry(Ops, spans, rec, spark)
      val cores = BatchTrace.cores(spark)
      val perJob = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
      val tracedWalls = Harness.closedLoop(cli.seconds - plainSeconds) { j =>
        val o = outDir(dir)
        outputs += o
        spans.job = j
        val acc = rec.begin()
        val audit = spans.time("job", "") {
          Pipeline.runJobJsonAudited(spark, config(input, o), extra)
        }
        val rowsOut = audit.collect().map(r =>
          s"step.${r.getString(1)}.rows_out" -> r.getLong(2).toDouble).toMap
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        perJob += BatchTrace.jobMetrics(j, spans, acc, cores, rowsOut ++ Map(
          "functioniser.expr_nodes" -> 0.0,
          "output.files" -> Harness.dataFiles(new File(o)).size.toDouble))
      }
      rec.detach(spark)
      layers = BatchTrace.medians(perJob.toSeq) ++ Map(
        "trace.overhead_ratio" ->
          Stats.median(tracedWalls) / Stats.median(walls))
      report = Seq(BatchTrace.accounting(spans, perJob.indices.toSeq))
    }
    // output checks (untimed), one per timed job
    val problems = outputs.toSeq.map(o => check(spark.read.parquet(o), truth))
    val failed = problems.count(_.nonEmpty).toLong
    val p50 = Stats.median(walls)
    val dupShare = (truth.kinds.getOrElse("exact_dup", 0) +
      truth.kinds.getOrElse("near_dup", 0)).toDouble / Docs
    Result(outputs.size.toLong, failed,
      Map("setup_s" -> Stats.median(setups), "latency_s.p50" -> p50,
        "rows_per_s" -> Docs / p50) ++ layers ++ Harness.jvm(),
      Seq(s"workload curation_batch: closed loop, 1 client, $Docs docs in " +
        s"$Files parquet files; planted " +
        truth.kinds.toSeq.sorted.map { case (k, v) => s"$k $v" }.mkString(", ") +
        f" (duplicate share $dupShare%.3f); ${truth.survivors.size} expected survivors",
        s"setup_s = ${Harness.fmt(Stats.median(setups))} s " +
          s"(median of ${setups.size}: ${setups.map(Harness.fmt).mkString(", ")})",
        s"job_s.p50 = ${Harness.fmt(p50)} s (n=${walls.size}: " +
          walls.map(Harness.fmt).mkString(", ") + ")",
        s"rows_per_s = ${Harness.fmt(Docs / p50)} rows/s",
        s"failed_ratio = ${Harness.fmt(failed.toDouble / outputs.size)} " +
          s"($failed of ${outputs.size} job outputs fail the ground-truth check" +
          problems.find(_.nonEmpty).map(p => ": " + p.mkString("; ")).getOrElse("") +
          ")") ++ report,
      spans.all)
  }
}
