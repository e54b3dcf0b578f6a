package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Pipeline

/** `nested_functionise`: `Pipeline.runJson` over read_parquet ->
  * apply_functions, then Spark's `noop` sink. Closed loop, one client.
  * Exercises the Functioniser compile, Catalyst over deep expression
  * trees, the codegen'd Project and the nested parquet scan; no shuffle,
  * no operators, no real sink. */
object NestedFunctionise {
  val Rows = 60000L
  val Files = 8

  /** Every path kind, each composing several functions (a repeated
    * path composes in config order): roots, array elements of a root,
    * struct leaves, members of array-of-struct elements, the struct ->
    * array<struct> -> array<struct> -> struct chain, a prefix path
    * addressing a whole struct subtree, a doubly nested array (`a[][]`)
    * and map values (`m{}`). Unknown-leaf creation is left out: a
    * by-name function receives the missing field as its argument, so
    * analysis rejects it (only a Scala-registered constant can create). */
  val Chains: Seq[(String, Seq[String])] = Seq(
    "name" -> Seq("lower", "reverse", "upper", "trim", "initcap"),
    "score" -> Seq("abs", "sqrt", "cbrt", "exp"),
    "c0" -> Seq("upper", "reverse", "lower", "initcap"),
    "c1" -> Seq("lower", "initcap", "reverse", "upper"),
    "c2" -> Seq("initcap", "upper", "trim", "reverse"),
    "c3" -> Seq("reverse", "lower", "initcap", "soundex"),
    "d0" -> Seq("abs", "sqrt", "log1p"), "d1" -> Seq("negative", "abs", "cbrt"),
    "d2" -> Seq("radians", "sin", "asin"), "d3" -> Seq("degrees", "cos", "acos"),
    "tags" -> Seq("upper", "reverse", "initcap"),
    "info.city" -> Seq("upper", "trim", "reverse", "initcap"),
    "info.geo.lat" -> Seq("radians", "sin", "asin"),
    "info.geo.lon" -> Seq("degrees", "abs", "sqrt"),
    "info.items.label" -> Seq("upper", "reverse", "initcap", "soundex"),
    "info.items.qty" -> Seq("abs", "negative"),
    "info.items.parts.code" -> Seq("lower", "reverse", "upper", "initcap"),
    "info.items.parts.weight" -> Seq("abs", "sqrt", "cbrt"),
    "info.items.parts.leaf.a" -> Seq("upper", "reverse", "soundex"),
    "info.items.parts.leaf.b" -> Seq("negative", "abs", "cbrt", "log1p"),
    "meta" -> Seq("to_json", "upper"),
    "grid" -> Seq("abs", "sqrt", "cbrt"),
    "props{}.note" -> Seq("upper", "reverse", "lower", "initcap"),
    "props{}.w" -> Seq("abs", "sqrt", "log1p"))

  val Fields: Seq[(String, String)] =
    Chains.flatMap { case (p, fs) => fs.map(p -> _) }

  def config(input: String): String = {
    val m = new ObjectMapper()
    val steps = m.createArrayNode()
    steps.addObject().put("op", "read_parquet").putObject("params")
      .put("path", input)
    val fields = steps.addObject().put("op", "apply_functions")
      .putObject("params").putArray("fields")
    Fields.foreach { case (p, f) => fields.addArray().add(p).add(f) }
    m.writeValueAsString(steps)
  }

  /** The same rewrites by hand with withField / transform /
    * transform_values and Spark's own by-name function lookup — no graft
    * code involved. */
  def reference(df: DataFrame): DataFrame = {
    val fns = Chains.toMap
    def f(path: String, c: Column): Column =
      fns(path).foldLeft(c)((x, name) => call_function(name, x))
    val info = col("info")
    val geo = info.getField("geo")
    df.select(
      Seq(col("id"), f("name", col("name")).as("name"),
        f("score", col("score")).as("score")) ++
      Seq("c0", "c1", "c2", "c3", "d0", "d1", "d2", "d3")
        .map(c => f(c, col(c)).as(c)) ++
      Seq(transform(col("tags"), f("tags", _)).as("tags"),
        info
          .withField("city", f("info.city", info.getField("city")))
          .withField("geo", geo
            .withField("lat", f("info.geo.lat", geo.getField("lat")))
            .withField("lon", f("info.geo.lon", geo.getField("lon"))))
          .withField("items", transform(info.getField("items"), (it: Column) =>
            it.withField("label", f("info.items.label", it.getField("label")))
              .withField("qty", f("info.items.qty", it.getField("qty")))
              .withField("parts", transform(it.getField("parts"), (p: Column) => {
                val leaf = p.getField("leaf")
                p.withField("code", f("info.items.parts.code", p.getField("code")))
                  .withField("weight",
                    f("info.items.parts.weight", p.getField("weight")))
                  .withField("leaf", leaf
                    .withField("a", f("info.items.parts.leaf.a", leaf.getField("a")))
                    .withField("b", f("info.items.parts.leaf.b", leaf.getField("b"))))
              }))))
          .as("info"),
        f("meta", col("meta")).as("meta"),
        transform(col("grid"), (r: Column) => transform(r, f("grid", _)))
          .as("grid"),
        transform_values(col("props"), (_: Column, v: Column) =>
          v.withField("note", f("props{}.note", v.getField("note")))
            .withField("w", f("props{}.w", v.getField("w")))).as("props")): _*)
  }

  /** Order-independent digest: row count and the sum of each row's
    * 64-bit hash of its JSON form. */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(to_json(struct(col("*")))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  def generate(spark: SparkSession, seed: Long, rows: Long,
               dir: File): String = {
    val path = new File(dir, "nested").getAbsolutePath
    Gen.nestedFrame(spark, seed, rows, Files).write.parquet(path)
    path
  }

  def job(spark: SparkSession, input: String,
          extra: Map[String, Pipeline.OpSpec] = Map.empty): DataFrame = {
    val out = Pipeline.runJson(spark, config(input), extra)
    out.write.format("noop").mode("overwrite").save()
    out
  }

  def run(cli: Cli): Result = {
    val (setups, spark, input) = Harness.setUp(cli.work) { (s, d) =>
      val in = generate(s, cli.seed, Rows, d)
      job(s, in)
      in
    }(_ => ())
    Harness.settle(6)(job(spark, input))
    val spans = new Spans
    val rec = new Recorder
    var last: DataFrame = null
    val plainSeconds = if (cli.trace) cli.seconds / 2.0 else cli.seconds
    val walls = Harness.closedLoop(plainSeconds) { _ =>
      last = job(spark, input)
    }
    var layers = Map.empty[String, Double]
    var report = Seq.empty[String]
    if (cli.trace) {
      rec.attach(spark)
      var nodes = 0.0
      val extra = Tracing.registry(Seq("apply_functions"), spans, rec, spark,
        (op, out) => if (op == "apply_functions")
          nodes = BatchTrace.exprNodes(out))
      val cores = BatchTrace.cores(spark)
      val perJob = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
      val tracedWalls = Harness.closedLoop(cli.seconds - plainSeconds) { j =>
        spans.job = j
        val acc = rec.begin()
        spans.time("job", "") { last = job(spark, input, extra) }
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        perJob += BatchTrace.jobMetrics(j, spans, acc, cores,
          Map("functioniser.expr_nodes" -> nodes, "output.files" -> 0.0))
      }
      rec.detach(spark)
      layers = BatchTrace.medians(perJob.toSeq) ++ Map(
        "trace.overhead_ratio" ->
          Stats.median(tracedWalls) / Stats.median(walls))
      report = Seq(BatchTrace.accounting(spans, perJob.indices))
    }
    // output check (untimed): graft's output against the hand-written
    // reference on the same input
    val expected = digest(reference(spark.read.parquet(input)))
    val got = digest(last)
    val ok = expected == got && expected._1 == Rows
    val attempted = walls.size.toLong
    val p50 = Stats.median(walls)
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "latency_s.p50" -> p50,
      "rows_per_s" -> Rows / p50)
    Result(attempted, if (ok) 0 else attempted,
      e2e ++ layers ++ Harness.jvm(),
      Seq(s"workload nested_functionise: closed loop, 1 client, " +
        s"$Rows rows in $Files parquet files",
        s"setup_s = ${Harness.fmt(Stats.median(setups))} s " +
          s"(median of ${setups.size}: ${setups.map(Harness.fmt).mkString(", ")})",
        s"job_s.p50 = ${Harness.fmt(p50)} s (n=${walls.size}: " +
          walls.map(Harness.fmt).mkString(", ") + ")",
        s"rows_per_s = ${Harness.fmt(Rows / p50)} rows/s",
        s"failed_ratio = ${Harness.fmt(if (ok) 0.0 else 1.0)} " +
          s"(digest ${if (ok) "matches" else s"MISMATCH: got $got, expected $expected"})") ++
        report,
      spans.all)
  }
}
