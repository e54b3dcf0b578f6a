package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result as one `PERFBENCH {json}`
  * line; run.py turns that into the benchmark's result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val cli = Cli(kv("--workload"), kv("--seed").toLong,
      kv("--seconds").toInt, kv("--trace") == "1", new File(kv("--work")),
      kv.get("--trace-out").map(new File(_)))
    cli.work.mkdirs()
    val result = cli.workload match {
      case "nested_functionise" => NestedFunctionise.run(cli)
      case "curation_batch" => CurationBatch.run(cli)
      case "stream_gate" => StreamGate.run(cli)
      case "self_test" => SelfTest.run(cli)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'")
    }
    cli.traceOut.foreach(f => if (result.spans.nonEmpty)
      Harness.writeSpans(f, result.spans))
    val m = new ObjectMapper()
    val node = m.createObjectNode()
    node.put("attempted", result.attempted).put("failed", result.failed)
    val vals = node.putObject("values")
    result.values.toSeq.sortBy(_._1).foreach { case (k, v) => vals.put(k, v) }
    val rep = node.putArray("report")
    result.report.foreach(rep.add)
    println("PERFBENCH " + m.writeValueAsString(node))
    System.out.flush()
    SparkSession.getActiveSession.foreach(_.stop())
    // non-daemon pool threads must not keep the JVM alive
    System.exit(0)
  }
}
