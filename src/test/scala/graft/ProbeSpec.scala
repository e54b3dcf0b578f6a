package graft

import java.nio.file.Files

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils

import org.scalatest.funsuite.AnyFunSuite

/** Every [[Probe]] runs once at its smallest size — its default on sf0.01
  * for the table-backed probes, a tiny generated size for the rest — so a
  * probe that stops working fails here, not on the next 100 TB-shape
  * measurement. */
class ProbeSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val generated = Map("graph" -> Seq("500"), "walk" -> Seq("100"),
    "walk_second_order" -> Seq("10"), "psl" -> Seq("0.01"),
    "warc" -> Seq("1", "single:1"))
  /** Per probe, a variant whose plan shuffles at any size. */
  private val shuffling = Map("similarity" -> "lsh", "curation" -> "passages",
    "crawl" -> "train_unigram", "frontier" -> "frontier_schedule",
    "lm" -> "train3", "heavy_hitters" -> "explode", "kmv" -> "exact",
    "card" -> "exact", "graph" -> "pagerank", "walk" -> "seeded_join",
    "walk_second_order" -> "join_w512_s2", "events" -> "gapfill",
    "layout" -> "snapshot_diff", "cdc" -> "bucketed")
  private val common = Seq("probe", "size", "variant", "wall_s", "jobs",
    "shuffle_records", "shuffle_bytes")
  private val json = new com.fasterxml.jackson.databind.ObjectMapper

  test("the spec covers every probe") {
    assert(Probe.all.map(_.name).distinct.size == Probe.all.size)
    assert((generated.keySet ++ shuffling.keySet) ==
      Probe.all.map(_.name).toSet)
  }

  /** Each probe's output lines, or what it threw. The runs start together
    * on three threads the first time a test asks: at these sizes a
    * probe's jobs are latency-bound, and the harness counts only its own
    * run's jobs, so sharing the session changes no probe's numbers. */
  private lazy val runs: Map[String, Future[Seq[String]]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val started = Probe.all.map { p =>
      p.name -> Future {
        val parent = Files.createTempDirectory("probe-spec")
        val lines = collection.mutable.Buffer.empty[String]
        try {
          Probe.run(spark, "/root/testdata/sf0.01", p.name,
            generated.getOrElse(p.name, p.sizes.take(1)), parent,
            l => lines.synchronized(lines += l))
          assert(Files.list(parent).iterator().asScala.isEmpty,
            "the run's scratch directory outlived the run")
          lines.toSeq
        } finally FileUtils.deleteDirectory(parent.toFile)
      }
    }.toMap
    pool.shutdown() // the submitted runs still finish
    started
  }

  test("a run counts only its own jobs while other probes run beside it: " +
       "on the one-partition sf0.01 corpus, heavy_hitters' sketch writes " +
       "one shuffle record and explode one per distinct trigram") {
    val lines = Await.result(runs("heavy_hitters"), 10.minutes)
      .map(json.readTree)
    val v = lines.map(o => o.get("variant").asText -> o).toMap
    assert(v("sketch").get("map_partitions").asLong == 1)
    assert(v("sketch").get("shuffle_records").asLong == 1)
    assert(v("explode").get("shuffle_records").asLong ==
      v("explode").get("vocab").asLong)
  }

  Probe.all.foreach { p =>
    test(s"probe ${p.name} runs at its smallest size: its check passes, " +
         "every line is JSON with the common keys, a shuffling variant " +
         "counts shuffle writes, and the scratch directory is gone") {
      val parsed = Await.result(runs(p.name), 10.minutes).map(json.readTree)
      assert(parsed.nonEmpty)
      parsed.foreach { o =>
        common.foreach(k => assert(o.has(k), s"$k missing from $o"))
        assert(o.get("probe").asText == p.name)
        assert(o.get("wall_s").asDouble >= 0 && o.get("jobs").asLong >= 1, o)
      }
      assert(parsed.map(o => (o.get("size").asText,
        o.get("variant").asText)).distinct.size == parsed.size)
      shuffling.get(p.name).foreach { v =>
        val o = parsed.find(_.get("variant").asText == v)
          .getOrElse(fail(s"no variant $v"))
        assert(o.get("shuffle_records").asLong > 0 &&
          o.get("shuffle_bytes").asLong > 0, o)
      }
    }
  }
}
