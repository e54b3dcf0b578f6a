package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Pipeline

/** `stream_gate`: `Pipeline.startStreamJsonGatedUnified` over a parquet
  * file stream — apply_functions (flat paths), token_count,
  * dup_ngram_fraction, a quarantining expect_condition gate, a filter,
  * and the parquet sink. Open loop at a fixed offered rate: set-up writes
  * fixed-size files of the curation corpus into a staging directory, and
  * one thread only renames them into the source directory when each is
  * due. Lag runs from a file's due time to the commit of the micro-batch
  * that holds its rows. */
object StreamGate {
  val RowsPerFile = 25
  val FilesPerSecond = 12
  /** Warm-up: waves of files released at once, each waited for; one
    * per set-up, then up to `WarmWaves - 1` more until batches settle. */
  val WarmWaves = 9
  val WarmFiles = 3
  val Schema = "doc_id BIGINT, text STRING, source STRING"
  val Gate = "n_tokens >= 50 AND dup3 < 0.2"
  val Ops: Seq[String] = Seq("apply_functions", "token_count",
    "dup_ngram_fraction", "filter")

  def config(src: String, out: String, quarantine: String,
             checkpoint: String): String = {
    val m = new ObjectMapper()
    val steps = m.createArrayNode()
    def step(op: String) = steps.addObject().put("op", op).putObject("params")
    step("read_stream_parquet").put("path", src).put("schema", Schema)
    val fields = step("apply_functions").putArray("fields")
    fields.addArray().add("source").add("upper")
    fields.addArray().add("text").add("trim")
    step("token_count")
    step("dup_ngram_fraction").put("n", 3)
    step("expect_condition").put("condition", Gate).put("name", "quality")
      .put("quarantine_path", quarantine)
    // every gate survivor has a source, so the filter keeps them all and
    // each row lands exactly once across survivors and quarantine
    step("filter").put("condition", "length(source) > 0")
    step("write_stream_parquet").put("path", out).put("checkpoint", checkpoint)
    m.writeValueAsString(steps)
  }

  final class Live(val dir: File,
                   val staged: IndexedSeq[File], val query: StreamingQuery,
                   val progress: Progress, var released: Int = 0) {
    val src = new File(dir, "src")
    val out = new File(dir, "out")
    val quarantine = new File(dir, "quarantine")

    def release(k: Int): Long = {
      Files.move(staged(k).toPath, new File(src, f"f$k%05d.parquet").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      System.nanoTime()
    }

    def committedRows: Long = progress.batches.map(_.rows).sum

    /** Warm-up: release the next `WarmFiles` files at once and wait
      * until their rows are committed. */
    def wave(): Unit = {
      (0 until WarmFiles).foreach(k => release(released + k))
      released += WarmFiles
      require(await(released.toLong * RowsPerFile, 60),
        "stream warm-up did not drain")
    }

    /** Wait until every released row is committed (false on timeout). */
    def await(rows: Long, timeoutS: Double): Boolean = {
      val t0 = System.nanoTime()
      while (committedRows < rows && Harness.secondsSince(t0) < timeoutS &&
        query.isActive) Thread.sleep(5)
      committedRows >= rows
    }
  }

  /** Write `files` files of `RowsPerFile` docs each into a staging dir:
    * one partitioned write, then each partition's single part file is
    * taken out of its directory. */
  def stage(spark: SparkSession, corpus: Gen.Corpus, files: Int,
            dir: File): IndexedSeq[File] = {
    import spark.implicits._
    val raw = new File(dir, "raw")
    val n = files * RowsPerFile
    spark.range(0, n, 1, 8).as[Long]
      .map(i => (corpus.doc(i.toInt), (i / RowsPerFile).toInt)).toDF("d", "file")
      .select(col("d.*"), col("file"))
      .repartition(8, col("file"))
      .write.partitionBy("file").parquet(raw.getAbsolutePath)
    val staging = Harness.dir(dir, "staging")
    (0 until files).map { k =>
      val part = new File(raw, s"file=$k").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"file $k: ${part.length} part files")
      val to = new File(staging, f"f$k%05d.parquet")
      Files.move(part.head.toPath, to.toPath)
      to
    }
  }

  /** Check delivery against the generator: every generated row lands
    * exactly once across survivors (`ok`) and quarantine, on the side
    * the gate predicate gives for its planted kind (short and repetitive
    * docs fail it), and survivors carry the upper-cased source. Returns
    * (lost, duplicated, wrong side) row counts. */
  def audit(corpus: Gen.Corpus, n: Int,
            landed: Seq[(Long, String, Boolean)]): (Long, Long, Long) = {
    val byId = landed.groupBy(_._1)
    var lost, duplicated, wrongSide = 0L
    (0 until n).foreach { i =>
      val doc = corpus.doc(i)
      byId.get(doc.doc_id) match {
        case None => lost += 1
        case Some(rows) =>
          duplicated += rows.size - 1
          val passes = corpus.kind(i) <= Gen.Near
          val (_, source, ok) = rows.head
          if (ok != passes || (passes && source != doc.source.toUpperCase))
            wrongSide += 1
      }
    }
    (lost, duplicated, wrongSide)
  }

  def run(cli: Cli): Result = {
    val scheduled = FilesPerSecond * cli.seconds
    // at most WarmWaves waves are released before the schedule starts
    val total = WarmWaves * WarmFiles + scheduled
    val corpus = new Gen.Corpus(cli.seed, total * RowsPerFile)
    val spans = new Spans
    val rec = new Recorder
    var acc = new Acc
    var compileS, functioniserS, exprNodes = 0.0
    val (setups, spark, live) = Harness.setUp(cli.work) { (s, d) =>
      val staged = stage(s, corpus, total, d)
      val progress = new Progress
      s.streams.addListener(progress)
      // traced runs report every empty trigger, for stream.empty_ratio
      if (cli.trace)
        s.conf.set("spark.sql.streaming.noDataProgressEventInterval", "0")
      val src = Harness.dir(d, "src")
      val extra =
        if (cli.trace) Tracing.registry(Ops, spans, rec, s, (op, out) =>
          if (op == "apply_functions") exprNodes = BatchTrace.exprNodes(out))
        else Map.empty[String, Pipeline.OpSpec]
      val started = System.nanoTime()
      val q = spans.time("job", "") {
        Pipeline.startStreamJsonGatedUnified(s, config(src.getAbsolutePath,
          new File(d, "out").getAbsolutePath,
          new File(d, "quarantine").getAbsolutePath,
          new File(d, "checkpoint").getAbsolutePath), extra)
      }
      val compiles = spans.all.filter(x => x.startNs >= started &&
        x.name.endsWith(".compile"))
      compileS = if (compiles.isEmpty) 0.0
        else (compiles.map(_.endNs).max - started) / 1e9
      functioniserS = spans.all.filter(x => x.startNs >= started &&
        x.name.startsWith("step.apply_functions.")).map(_.seconds).sum
      val live = new Live(d, staged, q, progress)
      live.wave()
      live
    } { l => l.query.stop() }
    Harness.settle(WarmWaves - 1)(live.wave())
    val warm = live.released // scheduled file k is staged file warm + k
    val delivered = (warm + scheduled) * RowsPerFile

    // open loop: file k is due at t0 + k / rate, whatever the stream does
    val warmBatches = live.progress.batches.size
    val dueNs = (0 until scheduled).map(k =>
      (k * 1e9 / FilesPerSecond).toLong)
    val landedNs = new Array[Long](scheduled)
    val t0 = System.nanoTime() + 50000000L
    val cores = BatchTrace.cores(spark)
    var tracedFrom = Long.MaxValue
    val mover = new Thread(() => {
      (0 until scheduled).foreach { k =>
        if (cli.trace && k == scheduled / 2) {
          rec.attach(spark)
          acc = rec.begin()
          tracedFrom = t0 + dueNs(k)
        }
        val wait = t0 + dueNs(k) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        landedNs(k) = live.release(warm + k) - t0
      }
    })
    mover.start()
    mover.join()
    val drained = live.await(delivered.toLong, 30)
    val endNs = System.nanoTime()
    live.query.stop()
    if (cli.trace) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    if (cli.trace) rec.detach(spark)

    // where every row landed: survivors and quarantine carry batch ids
    val survivors = spark.read.parquet(live.out.getAbsolutePath)
      .select(col("doc_id"), col("source"), col("batch").cast("long"), lit(true).as("ok"))
    val quarantined = spark.read.parquet(
      new File(live.quarantine, "gate=quality").getAbsolutePath)
      .select(col("doc_id"), col("source"), col("batch").cast("long"), lit(false).as("ok"))
    val landed = survivors.unionByName(quarantined).collect()
    val (lost, duplicated, wrongSide) = audit(corpus, delivered,
      landed.map(r => (r.getLong(0), r.getString(1), r.getBoolean(3))).toSeq)
    val idx = (0 until corpus.n).map(i => corpus.docId(i) -> i).toMap
    val failed = lost + duplicated + wrongSide

    // lag: due time -> commit of the batch holding the file's rows
    val commitNs = live.progress.batches.map(b => b.id -> (b.committedNs - t0)).toMap
    val fileBatch = mutable.Map.empty[Int, Long]
    landed.foreach { r =>
      val f = idx(r.getLong(0)) / RowsPerFile - warm
      if (f >= 0) fileBatch(f) = math.max(fileBatch.getOrElse(f, -1L), r.getLong(2))
    }
    val fileLags = (0 until scheduled).flatMap(k => fileBatch.get(k)
      .flatMap(commitNs.get).map(c => k -> (c - dueNs(k)) / 1e9))
    val lags = fileLags.map(_._2)
    val lagP50 = Stats.median(lags)
    val lagP90 = Stats.quantile(lags, 0.9)
    val p90Ok = lags.size * 0.1 >= 10
    // delivered rate: least-squares slope of committed rows over commit time
    val schedBatches = live.progress.batches.drop(warmBatches).filter(_.rows > 0)
    val pts = schedBatches.scanLeft((0L, 0.0)) { case ((cum, _), b) =>
      (cum + b.rows, (b.committedNs - t0) / 1e9) }.drop(1)
    val rate = {
      val xs = pts.map(_._2); val ys = pts.map(_._1.toDouble)
      val mx = xs.sum / xs.size; val my = ys.sum / ys.size
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      if (xs.size < 2 || sxx == 0) 0.0
      else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }
    // backlog: files landed but not yet committed, at every event
    val fileCommit = (0 until scheduled).map(k =>
      fileBatch.get(k).flatMap(commitNs.get).getOrElse(Long.MaxValue))
    val events = (landedNs.toSeq ++ fileCommit.filter(_ < Long.MaxValue)).sorted
    val backlog = if (events.isEmpty) 0 else events.map(t =>
      landedNs.count(_ <= t) - fileCommit.count(_ <= t)).max
    val offered = FilesPerSecond * RowsPerFile

    var layers = Map.empty[String, Double]
    var report = Seq.empty[String]
    if (cli.trace) {
      val traced = schedBatches.filter(b => b.committedNs >= tracedFrom)
      val nb = math.max(1, traced.size).toDouble
      val windowS = (endNs - tracedFrom) / 1e9
      def p50(k: String) = Stats.median(schedBatches.map(_.durMs.getOrElse(k, 0L) / 1000.0))
      val all = live.progress.batches.drop(warmBatches)
      // steps after the gate are applied to every micro-batch
      val batchBuilds = spans.all.filter(s => s.startNs >= tracedFrom &&
        s.name.startsWith("step.") && s.name.endsWith(".build"))
      val perBatchSteps = Ops.flatMap { op =>
        val b = batchBuilds.filter(_.name == s"step.$op.build")
        Seq(s"step.$op.build_s" -> b.map(_.seconds).sum / nb,
          s"step.$op.jobs" -> acc.jobsByTag(s"step.$op") / nb)
      }
      val (tracedLags, plainLags) =
        fileLags.partition { case (k, _) => t0 + dueNs(k) >= tracedFrom }
      val tracedLag = Stats.median(tracedLags.map(_._2))
      val plainLag = Stats.median(plainLags.map(_._2))
      layers = Map(
        "pipeline.compile_s" -> compileS,
        "functioniser.compile_s" -> functioniserS,
        "functioniser.expr_nodes" -> exprNodes,
        "build_s" -> batchBuilds.map(_.seconds).sum / nb,
        "catalyst.analysis_s" -> acc.analysisMs / 1000.0 / nb,
        "catalyst.optimization_s" -> acc.optimizationMs / 1000.0 / nb,
        "catalyst.planning_s" -> acc.planningMs / 1000.0 / nb,
        "build.jobs" -> acc.jobsByTag.values.sum / nb,
        "execute_s" -> p50("addBatch"),
        "spark.jobs" -> acc.jobs / nb, "spark.stages" -> acc.stages / nb,
        "spark.tasks" -> acc.tasks / nb,
        "executor.run_s" -> acc.runMs / 1000.0 / nb,
        "executor.cpu_s" -> acc.cpuNs / 1e9 / nb,
        "executor.gc_s" -> acc.gcMs / 1000.0 / nb,
        "executor.busy_ratio" -> acc.runMs / 1000.0 / (windowS * cores),
        "task_s.skew" -> acc.taskSkew,
        "shuffle.write_bytes" -> acc.shuffleWrite / nb,
        "shuffle.read_bytes" -> acc.shuffleRead / nb,
        "shuffle.fetch_wait_s" -> acc.fetchWaitMs / 1000.0 / nb,
        "spill.bytes" -> acc.spill / nb,
        "input.bytes" -> acc.inBytes / nb, "input.rows" -> acc.inRows / nb,
        "output.bytes" -> acc.outBytes / nb,
        "output.files" -> (Harness.dataFiles(live.out).size +
          Harness.dataFiles(live.quarantine).size).toDouble /
          math.max(1, live.progress.batches.count(_.rows > 0)),
        "stream.batches" -> schedBatches.size.toDouble,
        "stream.empty_ratio" -> all.count(_.rows == 0).toDouble / math.max(1, all.size),
        "stream.rows_per_batch.p50" -> Stats.median(schedBatches.map(_.rows.toDouble)),
        "stream.trigger_s.p50" -> p50("triggerExecution"),
        "stream.add_batch_s.p50" -> p50("addBatch"),
        "stream.planning_s.p50" -> p50("queryPlanning"),
        "stream.offsets_s.p50" -> p50("latestOffset"),
        "stream.wal_s.p50" -> p50("walCommit"),
        "stream.backlog_files.max" -> backlog.toDouble,
        "gate.quarantined_rows" -> landed.count(r => !r.getBoolean(3)).toDouble,
        "gen.late_s.max" -> (0 until scheduled).map(k =>
          (landedNs(k) - dueNs(k)) / 1e9).max,
        "trace.overhead_ratio" -> (if (plainLag > 0) tracedLag / plainLag else 0.0),
      ) ++ perBatchSteps
    }
    Result(delivered.toLong, failed,
      Map("setup_s" -> Stats.median(setups), "latency_s.p50" -> lagP50,
        "rows_per_s" -> rate) ++ layers ++ Harness.jvm(),
      Seq(s"workload stream_gate: open loop, offered $FilesPerSecond files/s " +
        s"x $RowsPerFile rows = $offered rows/s for ${cli.seconds} s " +
        s"($scheduled files after $warm warm-up files)",
        s"setup_s = ${Harness.fmt(Stats.median(setups))} s " +
          s"(median of ${setups.size}: ${setups.map(Harness.fmt).mkString(", ")})",
        s"rows_per_s = ${Harness.fmt(rate)} rows/s delivered (offered $offered)",
        s"lag_s.p50 = ${Harness.fmt(lagP50)} s (n=${lags.size})",
        if (p90Ok) s"lag_s.p90 = ${Harness.fmt(lagP90)} s (n=${lags.size})"
        else s"lag_s.p90 not reported: ${lags.size} samples leave fewer than 10 beyond it",
        s"stream.backlog_files.max = $backlog" +
          (if (drained) "" else " (did not drain within 30 s)"),
        s"failed_ratio = ${Harness.fmt(failed.toDouble / delivered)} " +
          s"($lost lost, $duplicated duplicated, $wrongSide on the wrong side " +
          s"of the gate, of $delivered rows)") ++ report,
      spans.all)
  }
}
