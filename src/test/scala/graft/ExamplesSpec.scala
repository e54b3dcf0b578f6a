package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pipeline

/** The shipped `examples` configs (json + yaml) EXECUTE — substituting
  * only their documented `__PLACEHOLDER__` tokens — so a registry
  * rename or param change can never silently rot the docs. */
class ExamplesSpec extends AnyFunSuite {
  import SparkTestSession._

  private val dir = "/root/testdata/sf0.001"
  private def read(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"examples/$name")), "UTF-8")

  test("examples/curation_gate.json runs end to end") {
    val out = Pipeline.runJson(spark,
      read("curation_gate.json").replace("__TESTDATA__", dir))
    assert(out.columns.toSeq ==
      Seq("doc_id", "lang", "source", "n_tokens", "split"))
    assert(out.count() > 0)
  }

  test("examples/cdc_merge.json merges a persisted changeset") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-example-cdc").toString + "/chg"
    spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"), lit(1L).as("seq"),
        lit("delete").as("op"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").parquet(tmp)
    val out = Pipeline.runJson(spark,
      read("cdc_merge.json").replace("__TESTDATA__", dir)
        .replace("__CHANGES__", tmp))
    assert(out.filter(col("o_orderkey") % 5 === 0).count() == 0)
    assert(out.count() > 0)
  }

  test("examples/train_then_serve.json: the train job persists a " +
       "model the serve pipeline loads at compile time") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val model = java.nio.file.Files
      .createTempDirectory("graft-example-train").toString + "/bpe"
    val json = read("train_then_serve.json")
      .replace("__TESTDATA__", dir).replace("__MODEL__", model)
    val root = new ObjectMapper().readTree(json)
    Pipeline.runJobJson(spark, root.get("train").toString)
    val served = Pipeline.fromJson(root.get("serve").toString)(
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 10 === 0))
    assert(served.count() > 0)
  }

  test("examples/streaming_ingest_gate.yaml starts, gates a dropped " +
       "file, and appends survivors") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-example-stream")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text").limit(60)
      .coalesce(1).write.parquet(in)
    val q = Pipeline.startStreamJson(spark,
      read("streaming_ingest_gate.yaml")
        .replace("__IN__", in).replace("__OUT__", out)
        .replace("__CKPT__", base.resolve("ck").toString))
    q.processAllAvailable()
    q.stop()
    val survivors = spark.read.parquet(out)
    assert(survivors.count() > 0)
    assert(survivors.columns.contains("keep"))
  }

  test("examples/streaming_contract_gate.yaml runs as one gated query") {
    // one query quarantines violations per batch and writes survivors
    val base = java.nio.file.Files
      .createTempDirectory("graft-example-quar")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val quar = base.resolve("quar").toString
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text").limit(60)
      .coalesce(1).write.parquet(in)
    val q = Pipeline.startStreamJson(spark,
      read("streaming_contract_gate.yaml")
        .replace("__IN__", in).replace("__OUT__", out)
        .replace("__QUARANTINE__", quar)
        .replace("__CKPT__", base.resolve("ck").toString))
    q.processAllAvailable()
    q.stop()
    val survivors = spark.read.parquet(out)
    val quarantined = spark.read.parquet(s"$quar/gate=min_tokens")
    assert(survivors.count() > 0 && quarantined.count() > 0)
    // the contract actually split on the declared condition, and no
    // row was lost or duplicated across the two tables
    assert(survivors.agg(min(col("n_tokens"))).head.getInt(0) >= 20)
    assert(quarantined.agg(max(col("n_tokens"))).head.getInt(0) < 20)
    // the split is exact: every input row is a survivor, a
    // quarantined row, or a dup2-filtered gate SURVIVOR — and the
    // gate itself partitions the input on n_tokens alone
    val all = spark.read.parquet(in).count()
    assert(survivors.count() + quarantined.count() <= all)
    assert(quarantined.select("doc_id").distinct().count() ==
      quarantined.count())
  }

  test("examples/release_gate.json suppresses below-k combinations " +
       "end to end") {
    val out = Pipeline.runJson(spark,
      read("release_gate.json").replace("__TESTDATA__", dir))
    assert(out.columns.toSeq ==
      Seq("c_custkey", "c_nationkey", "c_mktsegment"))
    val full = spark.read.parquet(s"$dir/customer.parquet").count()
    val kept = out.count()
    assert(kept > 0 && kept < full) // the gate actually suppressed
  }

  test("examples/modular_job.json splices examples/gates.json via " +
       "include and runs end to end") {
    val gates = new java.io.File("examples/gates.json").getAbsolutePath
    val out = Pipeline.runJson(spark,
      read("modular_job.json").replace("__TESTDATA__", dir)
        .replace("__GATES__", gates))
    assert(out.columns.toSeq ==
      Seq("column", "n_registers", "estimate"))
    assert(out.count() == 2)
  }

  test("examples/training_mix.json assembles a mixture end to end") {
    val out = Pipeline.runJson(spark,
      read("training_mix.json").replace("__TESTDATA__", dir))
    assert(out.columns.toSeq ==
      Seq("doc_id", "lang", "source", "split"))
    assert(out.count() > 0)
    // the mixture dropped unrequested domains and the cap held
    val bySource = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource.keySet.subsetOf(Set("src0", "src1", "src2")))
    assert(bySource.values.forall(_ <= 200))
  }

  test("examples/dimension_enrich.json: broadcast enrichment joins " +
       "+ rollup + top-k, end to end") {
    val out = Pipeline.runJson(spark,
      read("dimension_enrich.json").replace("__TESTDATA__", dir))
    assert(out.columns.toSeq == Seq("n_name", "revenue", "n_orders"))
    val rows = out.collect()
    assert(rows.length == 10 && rows.length <= 10)
    // descending revenue order held through the limit
    val revs = rows.map(_.getDouble(1))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("examples/audited_recipe.json: quarantined contract + audit " +
       "report, end to end") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-example-audit")
    val audit = Pipeline.runJobJsonAudited(spark,
      read("audited_recipe.json").replace("__TESTDATA__", dir)
        .replace("__QUARANTINE__", base.resolve("quar").toString)
        .replace("__OUT__", base.resolve("out").toString))
    val rows = audit.collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(rows("read_table") == rows("token_count"))
    assert(rows("expect_condition") < rows("token_count"))
    assert(rows("select") == rows("expect_condition"))
    val quarantined = spark.read
      .parquet(base.resolve("quar").toString + "/gate=token_floor")
    assert(quarantined.count() ==
      rows("token_count") - rows("expect_condition"))
    assert(spark.read.parquet(base.resolve("out").toString).count() ==
      rows("select"))
  }

  test("examples/asset_features.json decodes features end to end") {
    val out = Pipeline.runJson(spark,
      read("asset_features.json").replace("__TESTDATA__", dir))
    assert(out.columns.contains("feature") &&
      out.columns.contains("content_hash"))
    assert(out.count() > 0)
  }

  test("examples/link_ranking.json: the crawl-to-ranking chain " +
       "(extract_links -> host_graph -> weighted pagerank), " +
       "end to end") {
    val out = Pipeline.runJson(spark,
      read("link_ranking.json").replace("__TESTDATA__", dir))
    assert(out.columns.toSeq == Seq("node", "rank", "out_weight"))
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length <= 10)
    // descending rank held through the limit; hosts are the 7 site
    // shards plus the external target
    val ranks = rows.map(_.getDouble(1))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
    assert(rows.map(_.getString(0)).forall(h =>
      h.endsWith(".example.com") || h == "other.example.org"))
  }

  test("examples/purchase_attribution.json: as-of self-join " +
       "enrichment + attribution rollup, end to end") {
    val out = Pipeline.runJson(spark,
      read("purchase_attribution.json").replace("__TESTDATA__", dir))
    assert(out.columns.toSeq ==
      Seq("attributed", "n_purchases", "revenue"))
    val rows = out.collect()
    // at most two attribution buckets; purchases exist at sf0.001
    assert(rows.nonEmpty && rows.length <= 2)
    assert(rows.map(_.getLong(1)).sum > 0)
  }
}
