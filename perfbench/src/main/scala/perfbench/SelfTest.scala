package perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.operators.Pipeline

/** The benchmark's own test: each output check passes on a correct
  * output and fails once one corruption is planted in it. `failed`
  * counts the checks that did not behave. */
object SelfTest {
  def run(cli: Cli): Result = {
    val spark = Harness.session()
    val results = Seq.newBuilder[(String, Boolean)]
    def expect(name: String, ok: Boolean): Unit = results += name -> ok

    // curation_batch: a real job output against the ground truth
    val corpus = new Gen.Corpus(cli.seed, 600)
    val dir = Harness.dir(cli.work, "curation")
    val in = CurationBatch.generate(spark, corpus, dir)
    val outPath = new File(dir, "out").getAbsolutePath
    Pipeline.runJobJson(spark, CurationBatch.config(in, outPath))
    val truth = CurationBatch.truth(corpus)
    val out = spark.read.parquet(outPath)
    expect("curation: correct output passes",
      CurationBatch.check(out, truth).isEmpty)
    val dupId = (0 until corpus.n).map(corpus.meta)
      .find(m => m.kind == Gen.Exact && !truth.survivors(m.docId)).get.docId
    val planted = out.unionByName(out.limit(1)
      .withColumn("doc_id", lit(dupId)))
    expect("curation: a planted duplicate that survived is caught",
      CurationBatch.check(planted, truth).nonEmpty)

    // stream_gate: a perfect delivery passes, one duplicated row fails
    val small = new Gen.Corpus(cli.seed, 300)
    val perfect = (0 until small.n).map { i =>
      val d = small.doc(i)
      (d.doc_id, d.source.toUpperCase, small.kind(i) <= Gen.Near)
    }
    expect("stream: exactly-once delivery passes",
      StreamGate.audit(small, small.n, perfect) == ((0L, 0L, 0L)))
    expect("stream: a row delivered twice is caught",
      StreamGate.audit(small, small.n, perfect :+ perfect.head)._2 == 1)

    // nested_functionise: the digest sees one changed leaf in one row
    val nested = NestedFunctionise.generate(spark, cli.seed, 2000,
      Harness.dir(cli.work, "nested"))
    val got = Pipeline.runJson(spark, NestedFunctionise.config(nested))
    val ref = NestedFunctionise.reference(spark.read.parquet(nested))
    expect("nested: graft output matches the reference digest",
      NestedFunctionise.digest(got) == NestedFunctionise.digest(ref))
    val corrupted = got.withColumn("c0",
      when(col("id") === 7, lower(col("c0"))).otherwise(col("c0")))
    expect("nested: one corrupted value is caught",
      NestedFunctionise.digest(corrupted) != NestedFunctionise.digest(ref))

    val all = results.result()
    Result(all.size.toLong, all.count(!_._2).toLong, Map.empty,
      all.map { case (n, ok) => s"${if (ok) "ok  " else "FAIL"} $n" })
  }
}
