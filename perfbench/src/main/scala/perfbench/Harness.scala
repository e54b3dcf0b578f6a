package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

final case class Cli(workload: String, seed: Long, seconds: Int,
                     trace: Boolean, work: File, traceOut: Option[File])

/** What one run reports. `values` holds every metric measured, by name;
  * `report` is the human-readable summary printed before the result. */
final case class Result(attempted: Long, failed: Long,
                        values: Map[String, Double], report: Seq[String],
                        spans: Seq[Span] = Nil)

object Harness {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** graft's own local session: `SPARK_GRAFT_CPUS` pins it to the box. */
  def session(): SparkSession = graft.LocalSession()

  def dir(parent: File, name: String): File = {
    val d = new File(parent, name)
    d.mkdirs()
    d
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, secondsSince(t0))
  }

  /** Set up `SetupReps` times, each in a fresh session and directory:
    * `prepare` starts from an empty directory and returns the prepared
    * state; every set-up but the last is torn down. Returns the set-up
    * times and the last set-up's session and state. */
  def setUp[T](work: File)(prepare: (SparkSession, File) => T)(
      teardown: T => Unit): (Seq[Double], SparkSession, T) = {
    var last: Option[(SparkSession, T)] = None
    val times = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val spark = session()
      val state = prepare(spark, dir(work, s"setup$i"))
      val dt = secondsSince(t0)
      if (i < SetupReps) {
        teardown(state)
        spark.stop()
        delete(new File(work, s"setup$i"))
      } else last = Some((spark, state))
      dt
    }
    (times, last.get._1, last.get._2)
  }

  /** Untimed warm-up after the last set-up: run `job` until two
    * consecutive times agree within 10% (at least 2 runs, at most `max`),
    * so the JIT and Spark's caches have settled before timing starts.
    * Each set-up already ran one job (the first job of a session pays
    * its lazy initialisation, which `setup_s` therefore includes). */
  def settle(max: Int)(job: => Unit): Int = {
    var prev = Double.MaxValue
    var n = 0
    var settled = false
    while (n < max && !settled) {
      val (_, t) = timed(job)
      n += 1
      settled = n >= 2 && math.abs(t - prev) <= 0.1 * prev
      prev = t
    }
    n
  }

  /** Closed loop, one client: start jobs back to back until `seconds`
    * have passed; returns each job's wall time. */
  def closedLoop(seconds: Double)(job: Int => Unit): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Double]
    while (secondsSince(t0) < seconds || out.isEmpty) {
      val (_, t) = timed(job(out.size))
      out += t
    }
    out.toList
  }

  /** Heap peak over the JVM's life so far (sum of the heap pools'
    * peaks) and total GC time. */
  def jvm(): Map[String, Double] = {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    Map("jvm.heap_peak_mb" -> heap / 1048576.0, "jvm.gc_s" -> gcMs / 1000.0)
  }

  /** Count the data files (not markers or checksums) under `root`. */
  def dataFiles(root: File): Seq[File] =
    if (!root.exists) Nil
    else if (root.isFile) Seq(root).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_")
    }
    else Option(root.listFiles()).toSeq.flatten.flatMap(dataFiles)

  def fmt(x: Double): String = f"$x%.4f"

  def writeSpans(out: File, spans: Seq[Span]): Unit = {
    val m = new ObjectMapper()
    val arr = m.createArrayNode()
    spans.foreach { s =>
      arr.addObject().put("job", s.job).put("name", s.name)
        .put("parent", s.parent).put("start_ns", s.startNs)
        .put("end_ns", s.endNs)
    }
    out.getParentFile.mkdirs()
    m.writerWithDefaultPrettyPrinter().writeValue(out, arr)
  }
}
