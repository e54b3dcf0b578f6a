package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.Pipeline
import graft.operators.Pipeline.OpSpec

/** A timed interval at a layer boundary. `job` groups the spans of one
  * benchmark job; `parent` names the enclosing span. */
final case class Span(job: Int, name: String, parent: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the benchmark ends. Steps
  * of a stream can run on the stream's own thread, so recording is
  * synchronised. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  @volatile var job: Int = 0

  def add(s: Span): Unit = synchronized { buf += s }

  def time[T](name: String, parent: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally add(Span(job, name, parent, t0, System.nanoTime()))
  }

  def all: Seq[Span] = synchronized(buf.toList)
  def ofJob(j: Int): Seq[Span] = all.filter(_.job == j)
}

/** Counters gathered between two `Recorder.begin` calls. Times from
  * Spark's listeners arrive in ms (executor time, phases) or ns (CPU). */
final class Acc {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs = 0L
  var spill, inBytes, inRows, outBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val jobsByTag = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val stageWallMs = mutable.Map.empty[Int, Long]
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time in the stage with the longest wall time. */
  def taskSkew: Double =
    if (stageWallMs.isEmpty) 0.0
    else {
      val longest = stageWallMs.maxBy(_._2)._1
      val ts = taskMs.getOrElse(longest, mutable.ArrayBuffer.empty[Long])
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (ts.isEmpty || med <= 0) 0.0 else ts.max / med
    }
}

/** Spark's public listener surfaces, recording into the current [[Acc]]:
  * `SparkListener` for jobs, stages and tasks (job tags name the step
  * that launched a job), `QueryExecutionListener` for the
  * `QueryPlanningTracker` phases of every action. */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile private var acc = new Acc

  def begin(): Acc = synchronized { acc = new Acc; acc }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc.jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(
      "spark.job.tags")))
      .toSeq.flatMap(_.split(",")).filter(_.startsWith("step."))
      .distinct.foreach(t => acc.jobsByTag(t) = acc.jobsByTag(t) + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      acc.stages += 1
      for (a <- s.submissionTime; b <- s.completionTime)
        acc.stageWallMs(s.stageId) = b - a
      val m = s.taskMetrics
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.inBytes += m.inputMetrics.bytesRead
        acc.inRows += m.inputMetrics.recordsRead
        acc.outBytes += m.outputMetrics.bytesWritten
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    acc.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    phases(qe)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Add a Dataset's own planning phases (analysis runs eagerly when a
    * step builds its output frame, so it never reaches onSuccess). */
  def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    acc.analysisMs += ms("analysis")
    acc.optimizationMs += ms("optimization")
    acc.planningMs += ms("planning")
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Micro-batch progress, kept in both modes: each event's arrival time
  * is the commit time of its batch, which the lag metric needs. */
final class Progress extends StreamingQueryListener {
  final case class Batch(id: Long, committedNs: Long, rows: Long,
                         durMs: Map[String, Long])
  private val buf = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    val d = p.durationMs
    val dur = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue()).toMap
    synchronized { buf += Batch(p.batchId, now, p.numInputRows, dur) }
  }
  def batches: Seq[Batch] = synchronized(buf.toList)
}

/** Tracing wrappers over graft's own operator registry. Each builtin op
  * a config names is re-registered through the `extra` parameter of the
  * public entry points under its own name: its compile and its apply are
  * timed as spans, the jobs it launches carry a `step.<op>` job tag, and
  * the planning phases of its output frame are recorded. The op bodies
  * are graft's own. */
object Tracing {
  def registry(ops: Seq[String], spans: Spans, rec: Recorder,
               spark: SparkSession,
               onOutput: (String, DataFrame) => Unit = (_, _) => ())
      : Map[String, OpSpec] =
    ops.distinct.map { op =>
      val spec = Pipeline.builtinOps(op)
      op -> OpSpec(spec.required, spec.optional, p => {
        val f = spans.time(s"step.$op.compile", "pipeline.compile")(
          spec.compile(p))
        df => spans.time(s"step.$op.build", "build") {
          val tag = s"step.$op"
          spark.sparkContext.addJobTag(tag)
          val out = try f(df) finally spark.sparkContext.removeJobTag(tag)
          rec.phases(out.queryExecution)
          onOutput(op, out)
          out
        }
      })
    }.toMap
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
