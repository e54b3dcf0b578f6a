package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.SparkInternals

/** The scale-probe harness: one main behind every measured 100 TB-shape
  * claim in BASELINE.md's scale-claim index.
  *
  * Usage: runMain graft.Probe <name> [sizes...]   (no sizes: the probe's
  * defaults; no name: the list of probes)
  *
  * A probe ([[Probe.Def]]) is a name, its default sizes, and a body that
  * builds the corpus for one size, times named variants over it, and
  * makes the check its measurement rests on (a `require` — a fast probe
  * that computes the wrong answer measures nothing). The harness owns
  * everything the probes share:
  *   - the session: [[LocalSession]] here, the caller's in a spec;
  *   - timing: each variant runs once to warm up (codegen, JIT, scan
  *     bring-up), then once timed;
  *   - one listener counting the timed run's Spark jobs and shuffle-write
  *     records and bytes, read after draining the listener bus (delivery
  *     is asynchronous). A run puts its jobs in its own job group and
  *     counts only those, so other work in the same session — another
  *     probe run included — never lands in its numbers;
  *   - the two replicated corpora most probes build on;
  *   - one scratch directory per run, deleted when the run ends;
  *   - output: one JSON object per line for each (probe, size, variant)
  *     on stdout — `probe`, `size`, `variant`, `wall_s`, `jobs`,
  *     `shuffle_records`, `shuffle_bytes`, then the probe's own fields.
  * Tables are read from the sf0.1 testdata. */
object Probe {
  /** A probe: `body` measures one size, which it reads as `Run.size`. */
  final case class Def(name: String, sizes: Seq[String])(val body: Run => Unit)

  lazy val all: Seq[Def] =
    TextProbes.all ++ SketchProbes.all ++ GraphProbes.all ++ DataProbes.all

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      println(s"usage: graft.Probe <name> [sizes...]; probes: " +
        all.map(p => s"${p.name} (${p.sizes.mkString(" ")})").mkString(", "))
      return
    }
    val spark = LocalSession()
    try run(spark, "/root/testdata/sf0.1", args.head, args.tail.toSeq)
    finally spark.stop()
  }

  /** Runs probe `name` at `sizes` (its defaults when empty) against the
    * tables under `dataDir`, handing each output line to `out`. The
    * run's scratch directory is made under `scratchParent` and deleted
    * when the run ends, whether or not it succeeded. */
  def run(spark: SparkSession, dataDir: String, name: String,
          sizes: Seq[String],
          scratchParent: Path = Paths.get(sys.props("java.io.tmpdir")),
          out: String => Unit = println): Unit = {
    val probe = all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown probe '$name'; " +
        s"probes: ${all.map(_.name).mkString(" ")}"))
    val scratch = Files.createTempDirectory(scratchParent,
      s"graft-probe-$name-")
    val group = scratch.getFileName.toString // unique per run
    val counters = new Counters(group)
    val sc = spark.sparkContext
    sc.addSparkListener(counters)
    sc.setJobGroup(group, s"graft.Probe $name")
    try {
      val chosen = if (sizes.nonEmpty) sizes else probe.sizes
      chosen.zipWithIndex.foreach { case (size, i) =>
        probe.body(new Run(spark, dataDir, scratch, name, size, i == 0,
          counters, out))
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counters)
      org.apache.commons.io.FileUtils.deleteDirectory(scratch.toFile)
    }
  }

  /** The jobs of one job group, and the shuffle writes of their stages. */
  private final class Counters(group: String) extends SparkListener {
    private val jobs, records, bytes = new AtomicLong
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties)
          .exists(_.getProperty("spark.jobGroup.id") == group)) {
        jobs.incrementAndGet()
        e.stageIds.foreach(stages.add)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stages.contains(e.stageInfo.stageId))
        Option(e.stageInfo.taskMetrics).foreach { m =>
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
    def read(spark: SparkSession): Seq[Long] = {
      SparkInternals.drainListenerBus(spark.sparkContext)
      Seq(jobs.get, records.get, bytes.get)
    }
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper

  /** One probe at one size. `first` is true for the first size of the
    * run, where probes make their costlier cross-checks once. */
  final class Run private[Probe] (val spark: SparkSession, dataDir: String,
      scratch: Path, probe: String, val size: String, val first: Boolean,
      counters: Counters, out: String => Unit) {
    private val walls = collection.mutable.Map.empty[String, Double]

    /** The size as a count: replicas, nodes, hub degree, … */
    def n: Int = size.toInt

    def table(name: String): DataFrame =
      graft.sources.Sources.table(spark, dataDir, name)

    /** A path inside the run's scratch directory. */
    def dir(name: String): String = scratch.resolve(name).toString

    /** Runs `body` once to warm up, then once timed, and emits the timed
      * run's line with `fields` of its result; returns the result. */
    def timed[T](variant: String)(body: => T)(
        fields: T => Seq[(String, Any)]): T = {
      body
      val before = counters.read(spark)
      val t0 = System.nanoTime()
      val v = body
      val wall = (System.nanoTime() - t0) / 1e9
      val after = counters.read(spark)
      walls(variant) = wall
      val line = new java.util.LinkedHashMap[String, Any]
      (Seq("probe" -> probe, "size" -> size, "variant" -> variant,
          "wall_s" -> math.round(wall * 1000) / 1000.0) ++
        Seq("jobs", "shuffle_records", "shuffle_bytes")
          .zip(after.zip(before).map { case (a, b) => a - b }) ++
        fields(v)).foreach { case (k, x) => line.put(k, x) }
      out(json.writeValueAsString(line))
      v
    }

    /** [[timed]] over a full evaluation of `df` into the noop sink. */
    def noop(variant: String, fields: (String, Any)*)(df: => DataFrame): Unit =
      timed(variant)(df.write.format("noop").mode("overwrite").save())(
        _ => fields)

    /** The timed wall of a variant this run already emitted. */
    def wall(variant: String): Double = walls(variant)

    /** Bytes under a local path, all files or only the named children. */
    def dirBytes(path: String, only: Set[String] = Set.empty): Long = {
      val root = new java.io.File(path)
      val tops = if (only.isEmpty) Seq(root)
        else Option(root.listFiles()).toSeq.flatten
          .filter(f => only.contains(f.getName))
      tops.map(org.apache.commons.io.FileUtils.sizeOf).sum
    }

    /** `reps` copies of `one(r)`, unioned (lazy — callers checkpoint). */
    def replicas(reps: Int)(one: Int => DataFrame): DataFrame =
      (0 until reps).map(one).reduce(_ union _)

    /** The documents replicated `reps` times, replica r with ids offset
      * by r·10⁷ and `#r` appended to EVERY word, plus `extra` columns
      * unchanged. A replica keeps the original's repetition structure
      * exactly (the same rewrite hits every document) while no word,
      * shingle or passage can collide across replicas, so duplicate,
      * vocabulary and model volumes all scale exactly ∝ reps. */
    def suffixedDocs(reps: Int, extra: String*): DataFrame = {
      val docs = table("documents")
      replicas(reps)(r => docs.select(Seq(
        (col("doc_id") + r * 10000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit("#" + r))), " ").as("text")) ++
        extra.map(col): _*))
    }

    /** The embeddings (dim 64) replicated `reps` times, replica r
      * circularly shifted by r positions — shifts preserve norms and
      * intra-replica dot products exactly while cross-replica cosines
      * stay at background level — plus a planted companion
      * `e + 0.2·reverse(e)` (cosine ≈ 0.98, the q_dedup_embedding_t08
      * construction) for every 20th vector: 100 true near-duplicate
      * pairs per replica at sf0.1, and replicas never pair. */
    def shiftedEmbeddings(reps: Int): DataFrame = {
      // shift = r % 64 would alias replica r with replica r-64: identical
      // vectors under different ids would flood the pair counts
      require(reps >= 1 && reps <= 64, "replicas must be in [1, 64] " +
        s"(dim-64 circular shifts are only injective that far); got $reps")
      val emb = table("embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      replicas(reps) { r =>
        val shifted = emb.select((col("vec_id") + r * 1000000L).as("vec_id"),
          (if (r == 0) col("e")
           else concat(slice(col("e"), r + 1, 64 - r), slice(col("e"), 1, r)))
            .as("e"))
        shifted.union(shifted.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"),
            zip_with(col("e"), reverse(col("e")),
              (x, y) => x + lit(0.2) * y).as("e")))
      }
    }
  }
}
