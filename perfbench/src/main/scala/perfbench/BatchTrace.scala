package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Project

/** Per-layer metrics of one traced batch job, from its spans and the
  * listener counters gathered while it ran.
  *
  * The job's top-level spans tile its wall time, cut at the boundaries
  * the step spans record:
  *   - `pipeline.compile`: entry call until the last step compile ends
  *     (config parse, validation and every step's compile);
  *   - `sources.read`: until the first step starts building (the source
  *     op: file listing and footer reads);
  *   - `build`: the steps' DataFrame construction, including any eager
  *     actions an operator runs;
  *   - `execute`: the sink's action (optimisation, planning, execution,
  *     commit) until the job returns. */
object BatchTrace {
  val TopLevel: Seq[String] =
    Seq("pipeline.compile", "sources.read", "build", "execute")

  def jobMetrics(job: Int, spans: Spans, acc: Acc, cores: Int,
                 extra: Map[String, Double]): Map[String, Double] = {
    val mine = spans.ofJob(job)
    val root = mine.find(_.name == "job").get
    val compiles = mine.filter(s => s.name.endsWith(".compile") &&
      s.name.startsWith("step."))
    val builds = mine.filter(s => s.name.endsWith(".build") &&
      s.name.startsWith("step."))
    val compileEnd = (root.startNs +: compiles.map(_.endNs)).max
    val buildStart =
      if (builds.isEmpty) compileEnd else builds.map(_.startNs).min
    val buildEnd = if (builds.isEmpty) buildStart else builds.map(_.endNs).max
    val top = Seq(
      Span(job, "pipeline.compile", "job", root.startNs, compileEnd),
      Span(job, "sources.read", "job", compileEnd, buildStart),
      Span(job, "build", "job", buildStart, buildEnd),
      Span(job, "execute", "job", buildEnd, root.endNs))
    top.foreach(spans.add)
    val execute = top.last.seconds
    def stepSum(op: String, kind: String) =
      mine.filter(_.name == s"step.$op.$kind").map(_.seconds).sum
    val stepOps = (compiles ++ builds).map(_.name.split('.')(1)).distinct
    val perStep = stepOps.flatMap { op =>
      Seq(s"step.$op.build_s" -> stepSum(op, "build"),
        s"step.$op.jobs" -> acc.jobsByTag(s"step.$op").toDouble)
    }
    val buildJobs = acc.jobsByTag.values.sum.toDouble
    Map(
      "pipeline.compile_s" -> top.head.seconds,
      "sources.read_s" -> top(1).seconds,
      "build_s" -> (top(1).seconds + top(2).seconds),
      "build.jobs" -> buildJobs,
      "execute_s" -> execute,
      "functioniser.compile_s" -> (stepSum("apply_functions", "compile") +
        stepSum("apply_functions", "build")),
      "catalyst.analysis_s" -> acc.analysisMs / 1000.0,
      "catalyst.optimization_s" -> acc.optimizationMs / 1000.0,
      "catalyst.planning_s" -> acc.planningMs / 1000.0,
      "spark.jobs" -> acc.jobs.toDouble,
      "spark.stages" -> acc.stages.toDouble,
      "spark.tasks" -> acc.tasks.toDouble,
      "executor.run_s" -> acc.runMs / 1000.0,
      "executor.cpu_s" -> acc.cpuNs / 1e9,
      "executor.gc_s" -> acc.gcMs / 1000.0,
      "executor.busy_ratio" ->
        (if (execute > 0) acc.runMs / 1000.0 / (execute * cores) else 0.0),
      "task_s.skew" -> acc.taskSkew,
      "shuffle.write_bytes" -> acc.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> acc.shuffleRead.toDouble,
      "shuffle.fetch_wait_s" -> acc.fetchWaitMs / 1000.0,
      "spill.bytes" -> acc.spill.toDouble,
      "input.bytes" -> acc.inBytes.toDouble,
      "input.rows" -> acc.inRows.toDouble,
      "output.bytes" -> acc.outBytes.toDouble,
    ) ++ perStep ++ extra
  }

  /** Median of each metric over the traced jobs. */
  def medians(perJob: Seq[Map[String, Double]]): Map[String, Double] =
    perJob.flatMap(_.keys).distinct.map { k =>
      k -> Stats.median(perJob.map(_.getOrElse(k, 0.0)))
    }.toMap

  /** Expression nodes in the projection a Functioniser emitted. */
  def exprNodes(df: org.apache.spark.sql.DataFrame): Double =
    df.queryExecution.analyzed match {
      case p: Project => p.projectList.map(_.collect { case e => e }.size).sum
      case other => other.expressions.map(_.collect { case e => e }.size).sum
    }

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** A report line showing the top-level spans tile the job. */
  def accounting(spans: Spans, jobs: Seq[Int]): String = {
    val all = spans.all.filter(s => jobs.contains(s.job))
    def med(name: String) = Stats.median(jobs.map(j =>
      all.filter(s => s.job == j && s.name == name).map(_.seconds).sum))
    val parts = BatchTrace.TopLevel.map(n => s"$n ${Harness.fmt(med(n))}")
    s"spans (median s over ${jobs.size} traced jobs): " +
      parts.mkString(" + ") + s" = job ${Harness.fmt(med("job"))}"
  }
}
