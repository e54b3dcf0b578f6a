package graft.operators

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Config-driven pipeline runner — the reference's identity
  * ("config-driven": ref README.md:3, "the config format is really up
  * to you", README.md:49) extended from column-level rewrites
  * ([[graft.Functioniser.fromConfig]]) to WHOLE-OPERATOR composition:
  * a step list (JSON, YAML, or plain Scala) maps over a whitelisted
  * operator registry and compiles to a `DataFrame => DataFrame` — so
  * the curation chains the extension operators cover can ship as
  * config files, not hand-written Scala.
  *
  * The [[graft.Functioniser.add]] discipline applies end to end:
  * every step validates EAGERLY at compile time — unknown operator
  * names, unknown parameter keys, missing required parameters, and
  * malformed values all throw before any job (or any DataFrame)
  * exists, each error naming what IS available. Step order =
  * config order = composition order.
  *
  * Scale posture: compilation is pure driver-side metadata; the
  * compiled pipeline is exactly the hand-written operator chain —
  * filters are Catalyst-parsed SQL expressions (pushdown-eligible),
  * registry entries call the same operators the oracled queries pin
  * (q_pipeline_cfg replays q_pipeline_curate from pure config under
  * the identical oracle). Custom operators join via the `extra`
  * registry argument (the `register_function` pattern: user entries
  * may override builtin names). */
object Pipeline {

  /** One config step: a registry operator name plus its parameters.
    * Values are plain Scala (String / Long / Double / Boolean /
    * Seq / Map) — what [[parse]] produces. */
  final case class Step(op: String, params: Map[String, Any] = Map.empty)

  /** Validated parameter view handed to operator bodies: typed
    * accessors with config-shaped error messages. */
  final class Params private[Pipeline] (op: String,
                                        values: Map[String, Any]) {
    private def get(name: String, default: Option[Any]): Any =
      values.get(name).orElse(default).getOrElse(
        fail(s"missing required param '$name'"))

    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"pipeline op '$op': $msg")

    def has(name: String): Boolean = values.contains(name)

    /** These params with `name` set to `value`. */
    private[Pipeline] def updated(name: String, value: Any): Params =
      new Params(op, values.updated(name, value))

    def str(name: String, default: Option[String] = None): String =
      get(name, default) match {
        case s: String => s
        case other => fail(s"param '$name' must be a string, got $other")
      }

    def int(name: String, default: Option[Int] = None): Int =
      get(name, default) match {
        case i: Int => i
        case l: Long if l.isValidInt => l.toInt
        case other => fail(s"param '$name' must be an integer, got $other")
      }

    def dbl(name: String, default: Option[Double] = None): Double =
      get(name, default) match {
        case d: Double => d
        case l: Long => l.toDouble
        case i: Int => i.toDouble
        case other => fail(s"param '$name' must be a number, got $other")
      }

    def bool(name: String, default: Option[Boolean] = None): Boolean =
      get(name, default) match {
        case b: Boolean => b
        case other => fail(s"param '$name' must be a boolean, got $other")
      }

    def bools(name: String,
              default: Option[Seq[Boolean]] = None): Seq[Boolean] =
      get(name, default) match {
        case xs: Seq[_] if xs.forall(_.isInstanceOf[Boolean]) =>
          xs.map(_.asInstanceOf[Boolean])
        case other =>
          fail(s"param '$name' must be a boolean list, got $other")
      }

    def strs(name: String,
             default: Option[Seq[String]] = None): Seq[String] =
      get(name, default) match {
        case xs: Seq[_] if xs.forall(_.isInstanceOf[String]) =>
          xs.map(_.asInstanceOf[String])
        case other =>
          fail(s"param '$name' must be a string list, got $other")
      }

    def dbls(name: String,
             default: Option[Seq[Double]] = None): Seq[Double] =
      get(name, default) match {
        case xs: Seq[_] if xs.forall(v =>
          v.isInstanceOf[Double] || v.isInstanceOf[Long] ||
            v.isInstanceOf[Int]) =>
          xs.map {
            case d: Double => d
            case l: Long => l.toDouble
            case i: Int => i.toDouble
          }
        case other =>
          fail(s"param '$name' must be a number list, got $other")
      }

    def long(name: String, default: Option[Long] = None): Long =
      get(name, default) match {
        case l: Long => l
        case i: Int => i.toLong
        case other => fail(s"param '$name' must be an integer, got $other")
      }

    /** `{key: number}` object → Map — the mixture-weights shape. */
    def numMap(name: String): Map[String, Double] =
      get(name, None) match {
        case m: Map[_, _] if m.nonEmpty &&
          m.keys.forall(_.isInstanceOf[String]) &&
          m.values.forall(v => v.isInstanceOf[Double] ||
            v.isInstanceOf[Long] || v.isInstanceOf[Int]) =>
          m.map { case (k, v) => k.asInstanceOf[String] -> (v match {
            case d: Double => d
            case l: Long => l.toDouble
            case i: Int => i.toDouble
          }) }
        case other => fail(s"param '$name' must be a non-empty " +
          s"object of {name: number}, got $other")
      }

    /** `[[name, parts], ...]` pairs — ordered, as split assignment
      * depends on order. */
    def weights(name: String): Seq[(String, Long)] =
      get(name, None) match {
        case xs: Seq[_] => xs.map {
          case Seq(n: String, w: Long) => (n, w)
          case Seq(n: String, w: Int) => (n, w.toLong)
          case other =>
            fail(s"param '$name' entries must be [name, parts] " +
              s"pairs, got $other")
        }
        case other =>
          fail(s"param '$name' must be a list of [name, parts] " +
            s"pairs, got $other")
      }

    /** `[[from, to], ...]` string pairs — ordered (renames apply in
      * config order, so a swap chain behaves like successive
      * `withColumnRenamed` calls). */
    def strPairs(name: String,
                 default: Option[Seq[(String, String)]] = None):
        Seq[(String, String)] =
      get(name, default) match {
        case xs: Seq[_] => xs.map {
          case Seq(a: String, b: String) => (a, b)
          case (a: String, b: String) => (a, b)
          case other =>
            fail(s"param '$name' entries must be [from, to] string " +
              s"pairs, got $other")
        }
        case other =>
          fail(s"param '$name' must be a list of [from, to] string " +
            s"pairs, got $other")
      }
  }

  /** A registry entry: the parameter contract plus the operator
    * body. `compile` runs EAGERLY per step — read (and thereby
    * validate) every param in the outer stage and return the
    * DataFrame transform, so a malformed value or unparsable
    * expression throws at config-compile time, never mid-pipeline.
    * `streaming` is the entry's streaming contract, the one place the
    * streaming compiles read it from. */
  final case class OpSpec(required: Set[String], optional: Set[String],
                          compile: Params => DataFrame => DataFrame,
                          streaming: Streaming = BatchOnly)

  /** How a registry entry runs on a stream. An entry streams when its
    * compiled body is stream-safe: a pure per-row/per-batch transform
    * (projections, filters, explodes, hash gates), a stored-model
    * scorer whose artifact loads as driver literals at config-compile
    * time, a stream-static join, or a stateful step that carries its
    * own watermark in the config. Everything else either aggregates or
    * joins the in-flight frame WITHOUT a watermark
    * (drop_exact_duplicates, drop_near_duplicates) or collects from it
    * (the index probe steps) — shapes a micro-batch stream cannot run
    * unless the config states the event-time bound, which those steps
    * have no parameter for. `sql` names the params that hold SQL:
    * on a stream they must be deterministic, since a micro-batch retry
    * would otherwise emit different rows. */
  sealed abstract class Streaming(val sql: Set[String])
  /** Rejected by name from every streaming compile (the default). */
  case object BatchOnly extends Streaming(Set.empty)
  /** Runs on a stream with the batch body unchanged. */
  final case class Streamable(sqlParams: String*)
      extends Streaming(sqlParams.toSet)
  /** Streams, but its OUTPUT depends on micro-batch boundaries or
    * watermark progression (stateful windows/timers, arrival-order
    * semantics): the unified gated runner ([[startStream]]) runs
    * it once in the streaming plan, so it must PRECEDE every quarantine
    * gate — from the first gate on, steps re-apply per materialized
    * micro-batch, where it would compute per-batch rows instead of the
    * stream's. */
  final case class BatchSensitive(sqlParams: String*)
      extends Streaming(sqlParams.toSet)

  /** The builtin whitelist. Names are snake_case (config-file
    * convention); bodies call the same oracled operators the
    * hand-written queries use. */
  val builtinOps: Map[String, OpSpec] = Map(
    "drop_exact_duplicates" -> OpSpec(Set(), Set("id_col", "text_col"),
      p => {
        val (id, text) =
          (p.str("id_col", Some("doc_id")), p.str("text_col", Some("text")))
        df => Dedup.dropExactDuplicates(df, id, text)
      }),

    "token_count" -> OpSpec(Set(), Set("text_col", "out_col"),
      p => {
        val out = p.str("out_col", Some("n_tokens"))
        val text = p.str("text_col", Some("text"))
        df => df.withColumn(out, TextAnalysis.tokenCount(col(text)))
      }, Streamable()),

    "dup_ngram_fraction" -> OpSpec(Set("n"), Set("text_col", "out_col"),
      p => {
        val n = p.int("n")
        val out = p.str("out_col", Some("dup" + n))
        val text = p.str("text_col", Some("text"))
        df => df.withColumn(out,
          TextAnalysis.dupNgramFraction(col(text), n))
      }, Streamable()),

    // Catalyst-parsed SQL predicate: parse errors throw at config
    // compile (parseEagerly — Column construction alone defers the
    // parse to plan time); the planned filter is pushdown-eligible
    // like any other
    "filter" -> OpSpec(Set("condition"), Set(),
      p => {
        val cond = parseEagerly(p.str("condition"))
        df => df.filter(cond)
      }, Streamable("condition")),

    "with_column" -> OpSpec(Set("name", "expr"), Set(),
      p => {
        val (name, e) = (p.str("name"), parseEagerly(p.str("expr")))
        df => df.withColumn(name, e)
      }, Streamable("expr")),

    "select" -> OpSpec(Set("cols"), Set(),
      p => {
        val cols = p.strs("cols").map(col)
        df => df.select(cols: _*)
      }, Streamable()),

    // the PARITY CORE as a pipeline step: ordered [path, function]
    // pairs compile through Functioniser.fromConfig to ONE select over
    // nested/array/map paths — the engine's two config layers
    // (column-level rewrites, whole-operator composition) compose in
    // one reviewed file. Unknown function names throw at config
    // compile (the add-time discipline); a stateless projection, so
    // stream-whitelisted
    "apply_functions" -> OpSpec(Set("fields"), Set(),
      p => {
        val f = graft.Functioniser.fromConfig(p.strPairs("fields"))
        df => f(df)
      }, Streamable()),

    "split_by_hash" -> OpSpec(Set("weights", "key_cols"), Set(),
      p => {
        val (w, keys) = (p.weights("weights"), p.strs("key_cols"))
        df => Curation.splitByHash(df, w, keys)
      }, Streamable()),

    "normalize_text" -> OpSpec(Set(),
      Set("id_col", "text_col", "form", "repair_mojibake",
        "passthrough_cols"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val text = p.str("text_col", Some("text"))
        val form = p.str("form", Some("NFKC"))
        val repair = p.bool("repair_mojibake", Some(true))
        val pass = p.strs("passthrough_cols", Some(Nil))
        df => Normalize.normalizeText(df, id, text, form, repair, pass)
      }, Streamable()),

    // LSH near-dup removal: pairs found + dropped in one step (the
    // q_dedup_clean composition) — the near-dup complement of
    // drop_exact_duplicates. The input has two readers (the LSH pair
    // search and the anti-join), so inside a job run it is persisted
    // for the job ([[JobScope]]) and the upstream steps run once per
    // document; a returned frame keeps the lazy plan
    "drop_near_duplicates" -> OpSpec(Set(),
      Set("id_col", "text_col", "n", "num_hashes", "bands",
        "threshold"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val text = p.str("text_col", Some("text"))
        val n = p.int("n", Some(3))
        val hashes = p.int("num_hashes", Some(64))
        val bands = p.int("bands", Some(32))
        val t = p.dbl("threshold", Some(0.5))
        df => {
          JobScope.persist(df)
          Dedup.dropNearDuplicates(df, id,
            Dedup.minHashLshPairs(df, id, text, n, hashes, bands, t))
        }
      }),

    "sample_fraction" -> OpSpec(Set("fraction", "key_cols"), Set(),
      p => {
        val (f, keys) = (p.dbl("fraction"), p.strs("key_cols"))
        df => Curation.sampleByHashThreshold(df, f, keys)
      }, Streamable()),

    // ---- the data-recipe sampling family as config: every mixing,
    // splitting, capping, and budget step a training-data recipe
    // starts from, each delegating to its oracled Curation twin.
    // Frames beyond the one in flight arrive by path (the
    // referential_orphans / psi_drift convention) ----

    "stratified_sample" -> OpSpec(
      Set("strata_cols", "fraction", "key_cols"), Set(),
      p => {
        val strata = p.strs("strata_cols")
        val (f, keys) = (p.dbl("fraction"), p.strs("key_cols"))
        df => Curation.stratifiedSample(df, strata, f, keys)
      }),

    "resample_to_mixture" -> OpSpec(
      Set("domain_col", "weights", "key_cols"), Set(),
      p => {
        val d = p.str("domain_col")
        val (w, keys) = (p.numMap("weights"), p.strs("key_cols"))
        df => Curation.resampleToMixture(df, d, w, keys)
      }),

    "resample_by_temperature" -> OpSpec(
      Set("domain_col", "alpha", "key_cols"), Set("max_domains"),
      p => {
        val d = p.str("domain_col")
        val (a, keys) = (p.dbl("alpha"), p.strs("key_cols"))
        val cap = p.int("max_domains", Some(100000))
        df => Curation.resampleByTemperature(df, d, a, keys, cap)
      }),

    // weight is a SQL expression over the row (quality proxies etc.);
    // stream-safe — the keep decision is a row-local hash filter
    "weighted_sample" -> OpSpec(Set("weight", "key_cols"), Set(),
      p => {
        val w = parseEagerly(p.str("weight"))
        val keys = p.strs("key_cols")
        df => Curation.sampleByWeightedHash(df, w, keys)
      }, Streamable("weight")),

    "sample_weighted_top_k" -> OpSpec(
      Set("weight", "k", "key_cols"), Set(),
      p => {
        val w = parseEagerly(p.str("weight"))
        val (k, keys) = (p.int("k"), p.strs("key_cols"))
        df => Curation.sampleWeightedTopK(df, w, k, keys)
      }),

    "cap_per_group" -> OpSpec(Set("group_cols", "n", "key_cols"),
      Set(),
      p => {
        val g = p.strs("group_cols")
        val (n, keys) = (p.int("n"), p.strs("key_cols"))
        df => Curation.capPerGroup(df, g, n, keys)
      }),

    // leakage-safe split: the near-dup pair table (any dedup-family
    // output) is named by path; clusters assign splits as a unit
    "split_by_cluster" -> OpSpec(
      Set("id_col", "pairs_path", "weights"), Set(),
      p => {
        val (id, path) = (p.str("id_col"), p.str("pairs_path"))
        val w = p.weights("weights")
        df => Curation.splitByCluster(df, id,
          df.sparkSession.read.parquet(path), w)
      }),

    "select_by_token_budget" -> OpSpec(
      Set("budget_tokens", "domain_cols", "quality", "id_col",
        "tokens"), Set(),
      p => {
        val b = p.long("budget_tokens")
        val d = p.strs("domain_cols")
        val q = parseEagerly(p.str("quality"))
        val (id, tk) = (p.str("id_col"), parseEagerly(p.str("tokens")))
        df => Curation.selectByTokenBudget(df, b, d, q, id, tk)
      }),

    "filter_by_quantile" -> OpSpec(Set("score", "q"), Set("exact"),
      p => {
        val sc = parseEagerly(p.str("score"))
        val (q, exact) = (p.dbl("q"), p.bool("exact", Some(true)))
        df => Curation.filterByQuantile(df, sc, q, exact)
      }),

    "bucket_by_quantile" -> OpSpec(Set("score"),
      Set("cuts", "labels", "bucket_col"),
      p => {
        val sc = parseEagerly(p.str("score"))
        val cuts = p.dbls("cuts", Some(Seq(1.0 / 3.0, 2.0 / 3.0)))
        val labels = p.strs("labels",
          Some(Seq("tail", "middle", "head")))
        val bc = p.str("bucket_col", Some("bucket"))
        df => Curation.bucketByQuantile(df, sc, cuts, labels, bc)
      }),

    "soft_dedup_sample" -> OpSpec(Set("clusters_path"), Set("id_col"),
      p => {
        val path = p.str("clusters_path")
        val id = p.str("id_col", Some("doc_id"))
        df => Curation.softDedupSample(df,
          df.sparkSession.read.parquet(path), id)
      }),

    "contamination_flags" -> OpSpec(
      Set("benchmark_path", "id_col", "text_col"),
      Set("n", "min_shared"),
      p => {
        val path = p.str("benchmark_path")
        val (id, text) = (p.str("id_col"), p.str("text_col"))
        val (n, ms) = (p.int("n", Some(3)), p.int("min_shared", Some(5)))
        df => Curation.contaminationFlags(df,
          df.sparkSession.read.parquet(path), id, text, n, ms)
      }),

    "importance_weights" -> OpSpec(
      Set("target_path", "id_col", "text_col"), Set("buckets", "k"),
      p => {
        val path = p.str("target_path")
        val (id, text) = (p.str("id_col"), p.str("text_col"))
        val (b, k) = (p.int("buckets", Some(4096)),
          p.dbl("k", Some(0.5)))
        df => Curation.importanceWeights(df,
          df.sparkSession.read.parquet(path), id, text, b, k)
      }),

    "pack_sequences" -> OpSpec(
      Set("budget_tokens", "shard_cols", "id_col", "text_col"), Set(),
      p => {
        val b = p.long("budget_tokens")
        val sc = p.strs("shard_cols")
        val (id, text) = (p.str("id_col"), p.str("text_col"))
        df => Curation.packSequences(df, b, sc, id, text)
      }),

    "chunk_by_tokens" -> OpSpec(Set(),
      Set("id_col", "text_col", "max_tokens", "overlap"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val text = p.str("text_col", Some("text"))
        val maxT = p.int("max_tokens", Some(512))
        val ov = p.int("overlap", Some(64))
        df => TextAnalysis.chunkByTokens(df, id, text, maxT, ov)
      }, Streamable()),

    "c4_clean" -> OpSpec(Set(),
      Set("id_col", "text_col", "min_words_per_line", "min_sentences",
        "passthrough_cols"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val text = p.str("text_col", Some("text"))
        val mw = p.int("min_words_per_line", Some(5))
        val ms = p.int("min_sentences", Some(3))
        val pass = p.strs("passthrough_cols", Some(Nil))
        df => TextAnalysis.c4Clean(df, id, text, mw, ms, pass)
      }, Streamable()),

    "scrub_pii" -> OpSpec(Set(), Set("text_col", "out_col"),
      p => {
        val text = p.str("text_col", Some("text"))
        val out = p.str("out_col", Some("text"))
        df => df.withColumn(out, TextAnalysis.scrubPii(col(text)))
      }, Streamable()),

    // event-analytics steps: the frame in flight is the event log
    "windowed_stats" -> OpSpec(Set(), Set("ts_col", "window_length"),
      p => {
        val ts = p.str("ts_col", Some("ts"))
        val win = p.str("window_length", Some("1 hour"))
        df => Events.windowedStats(df, ts, win)
      }),

    // the STATEFUL streaming-config entry: same aggregate as
    // windowed_stats but with an explicit watermark, so it passes
    // the streamable gate and emits append-mode as windows finalize.
    // On a batch frame withWatermark is a documented no-op, so one
    // body serves both — config-run stream == batch windowed_stats
    // on the finalized prefix (parity spec-pinned on MemoryStream)
    "windowed_stats_watermarked" -> OpSpec(Set("watermark_delay"),
      Set("ts_col", "window_length"),
      p => {
        val wm = p.str("watermark_delay")
        val ts = p.str("ts_col", Some("ts"))
        val win = p.str("window_length", Some("1 hour"))
        df => graft.streaming.StreamOps.windowedStats(df, ts, win, wm)
      }, BatchSensitive()),

    "sessionize" -> OpSpec(Set("gap_seconds"),
      Set("user_col", "ts_col", "id_col"),
      p => {
        val gap = p.int("gap_seconds").toLong
        val user = p.str("user_col", Some("user_id"))
        val ts = p.str("ts_col", Some("ts"))
        val id = p.str("id_col", Some("event_id"))
        df => Events.sessionize(df, gap, user, ts, id)
      }),

    "funnel" -> OpSpec(Set("steps", "window_seconds"),
      Set("user_col", "ts_col", "type_col"),
      p => {
        val steps = p.strs("steps")
        val win = p.int("window_seconds").toLong
        val user = p.str("user_col", Some("user_id"))
        val ts = p.str("ts_col", Some("ts"))
        val tpe = p.str("type_col", Some("event_type"))
        df => Events.funnel(df, steps, win, user, ts, tpe)
      }),

    // ---- generic relational steps: the grouped aggregate, the
    // enrichment join/union against a path-named table, and
    // order-by/limit (which Catalyst plans as TakeOrderedAndProject
    // when adjacent — per-partition heaps, no global sort) ----

    "aggregate" -> OpSpec(Set("group_cols", "aggs"), Set(),
      p => {
        val g = p.strs("group_cols") // empty list = global aggregate
        val aggs = p.strs("aggs").map(parseEagerly)
        require(aggs.nonEmpty, "pipeline op 'aggregate': aggs is empty")
        df =>
          if (g.isEmpty) df.agg(aggs.head, aggs.tail: _*)
          else df.groupBy(g.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }),

    // exactly one of `on` (same-name using-columns) or `condition`
    // (SQL over the aliased sides — the frame in flight is `l`, the
    // loaded table `r`); broadcast=true pins the hint the way a
    // dimension join at 100 TB wants it. Streams as a stream-STATIC
    // join: the loaded side is a batch table re-read per micro-batch
    // (inner / left_outer / left_anti per Spark's own support matrix —
    // unsupported shapes fail at stream start with Spark's error)
    "join_table" -> OpSpec(Set("path"),
      Set("on", "condition", "how", "broadcast"),
      p => {
        val path = p.str("path")
        val how = p.str("how", Some("inner"))
        val bc = p.bool("broadcast", Some(false))
        require(p.has("on") ^ p.has("condition"),
          "pipeline op 'join_table': exactly one of 'on' / " +
            "'condition' is required")
        val onCols = if (p.has("on")) p.strs("on") else Nil
        val condSql =
          if (p.has("condition")) Some(p.str("condition")) else None
        condSql.foreach(parseEagerly) // config-compile-time parse
        df => {
          val rightRaw = df.sparkSession.read.parquet(path)
          val right = if (bc) broadcast(rightRaw) else rightRaw
          condSql match {
            case Some(sql) => df.as("l").join(right.as("r"),
              expr(sql), how)
            case None => df.join(right, onCols, how)
          }
        }
      }, Streamable("condition")),

    "union_table" -> OpSpec(Set("path"),
      Set("by_name", "allow_missing_columns", "right_filter",
        "right_exprs"),
      p => {
        val path = p.str("path")
        val byName = p.bool("by_name", Some(true))
        val miss = p.bool("allow_missing_columns", Some(false))
        require(byName || !miss,
          "pipeline op 'union_table': allow_missing_columns needs " +
            "by_name = true")
        val filt = sideFilter(p)
        val exprs = rightExprs(p)
        df => {
          val other = shapeSide(loadSide(df, path, filt, Nil), exprs)
          if (byName) df.unionByName(other, miss) else df.union(other)
        }
      }),

    // set intersection/difference against a path-named table. Spark's
    // intersect/except are POSITIONAL and type-strict, so right_exprs
    // (compile-parsed projection expressions) shape the loaded side to
    // the frame in flight — `"cast(n_nationkey as int) as nationkey"`
    // style. Default is the DISTINCT set form (SQL INTERSECT/EXCEPT);
    // all = true keeps multiplicities (INTERSECT ALL / EXCEPT ALL)
    "intersect_table" -> OpSpec(Set("path"),
      Set("all", "right_filter", "right_exprs"),
      p => {
        val path = p.str("path")
        val all = p.bool("all", Some(false))
        val filt = sideFilter(p)
        val exprs = rightExprs(p)
        df => {
          val other = shapeSide(loadSide(df, path, filt, Nil), exprs)
          if (all) df.intersectAll(other) else df.intersect(other)
        }
      }),

    "except_table" -> OpSpec(Set("path"),
      Set("all", "right_filter", "right_exprs"),
      p => {
        val path = p.str("path")
        val all = p.bool("all", Some(false))
        val filt = sideFilter(p)
        val exprs = rightExprs(p)
        df => {
          val other = shapeSide(loadSide(df, path, filt, Nil), exprs)
          if (all) df.exceptAll(other) else df.except(other)
        }
      }),

    // SQL DISTINCT over the frame in flight (the set-op family's
    // companion — union_table + distinct is UNION, not UNION ALL)
    "distinct" -> OpSpec(Set(), Set(),
      _ => df => df.distinct()),

    "order_by" -> OpSpec(Set("cols"), Set("descending"),
      p => {
        val cols_ = p.strs("cols")
        require(cols_.nonEmpty,
          "pipeline op 'order_by': cols must be non-empty")
        val desc = p.bools("descending",
          Some(Seq.fill(cols_.size)(false)))
        require(desc.size == cols_.size,
          "pipeline op 'order_by': descending must match cols")
        df => df.orderBy(cols_.zip(desc).map { case (c, d) =>
          if (d) col(c).desc else col(c).asc }: _*)
      }),

    "limit" -> OpSpec(Set("n"), Set(),
      p => {
        val n = p.int("n")
        require(n >= 0, "pipeline op 'limit': n must be >= 0")
        df => df.limit(n)
      }),

    // ---- join-family steps beyond the plain enrichment join: the
    // time-correlation joins (as-of, range) and the scale-hardened
    // equi-join forms (salted, bloom-reduced) against a path-named
    // table. The frame in flight is always the left/fact/big side.
    // The loaded side takes an optional compile-parsed row filter
    // plus ordered renames, so a reviewed config can express the
    // same-table self-joins the hand-written twins use without a
    // second pipeline ----

    // point-in-time enrichment: each left row gets the latest right
    // row with the same key and right_ts <= left_ts (one shuffle of
    // |L|+|R| keyed rows — AsOfJoin's running-window composition)
    "asof_join" -> OpSpec(
      Set("path", "key_col", "ts_col", "left_cols", "right_cols"),
      Set("right_filter", "right_renames"),
      p => {
        val path = p.str("path")
        val (key, ts) = (p.str("key_col"), p.str("ts_col"))
        val (lc, rc) = (p.strs("left_cols"), p.strs("right_cols"))
        val filt = sideFilter(p)
        val ren = p.strPairs("right_renames", Some(Nil))
        df => AsOfJoin.asOfJoin(df, loadSide(df, path, filt, ren),
          key, ts, lc, rc)
      }),

    // interval correlation: all (left, right) pairs with the same key
    // and right_ts in [left_ts - lower, left_ts + upper] seconds —
    // time-bin bucketed so hot time RANGES spread across (key, bin)
    // buckets instead of degenerating to a per-key cross product
    "range_join" -> OpSpec(
      Set("path", "key_col", "ts_col", "lower_seconds",
        "upper_seconds", "left_cols", "right_cols"),
      Set("right_filter", "right_renames"),
      p => {
        val path = p.str("path")
        val (key, ts) = (p.str("key_col"), p.str("ts_col"))
        val (lo, hi) = (p.long("lower_seconds"), p.long("upper_seconds"))
        val (lc, rc) = (p.strs("left_cols"), p.strs("right_cols"))
        val filt = sideFilter(p)
        val ren = p.strPairs("right_renames", Some(Nil))
        df => RangeJoin.rangeJoin(df, loadSide(df, path, filt, ren),
          key, ts, lo, hi, lc, rc)
      }),

    // skew-salted equi-join: the frame in flight (big side) gets a
    // content-derived salt, the loaded (small) side replicates
    // salt_factor times, so one hot key splits across salt_factor
    // reducers; result equals the plain join row-for-row. Streams as
    // a stream-static join, like join_table
    "salted_join" -> OpSpec(Set("path", "on", "salt_factor"),
      Set("right_filter", "right_renames"),
      p => {
        val path = p.str("path")
        val keys = p.strs("on")
        val factor = p.int("salt_factor")
        val filt = sideFilter(p)
        val ren = p.strPairs("right_renames", Some(Nil))
        df => Skew.saltedJoin(df, loadSide(df, path, filt, ren),
          keys, factor)
      }, Streamable()),

    // bloom-reduced equi-join: the loaded (dimension) side is
    // sketched into a bloom filter and the frame in flight (fact
    // side) is might_contain-filtered BEFORE its shuffle — exact for
    // inner/left_semi (no false negatives), false positives only
    // cost shuffle rows. Streams: the sketch builds ONCE at
    // chain-compile time from the static side, and its might_contain
    // pre-filter is a stateless row gate ahead of a stream-static join
    "bloom_join" -> OpSpec(Set("path", "fact_key", "dim_key"),
      Set("fpp", "how", "right_filter", "right_renames"),
      p => {
        val path = p.str("path")
        val (fk, dk) = (p.str("fact_key"), p.str("dim_key"))
        val fpp = p.dbl("fpp", Some(0.01))
        val how = p.str("how", Some("inner"))
        val filt = sideFilter(p)
        val ren = p.strPairs("right_renames", Some(Nil))
        df => Joins.bloomReducedJoin(df,
          loadSide(df, path, filt, ren), fk, dk, fpp, how)
      }, Streamable()),

    // the diagnostic to run BEFORE a big join: top keys, shares, and
    // the max/mean ratio that floors a salted_join factor
    "key_skew_report" -> OpSpec(Set("keys"), Set("top_n"),
      p => {
        val keys = p.strs("keys")
        val topN = p.int("top_n", Some(20))
        df => Skew.keySkewReport(df, keys, topN)
      }),

    // two-stage (salted) aggregation of re-aggregatable statistics:
    // exact for count/min/max and integral or decimal sums — pass a
    // decimal value column when the sum must be order-independent
    "salted_stats" -> OpSpec(Set("keys", "value_col", "salt_factor"),
      Set(),
      p => {
        val keys = p.strs("keys")
        val v = p.str("value_col")
        val factor = p.int("salt_factor")
        df => Skew.saltedStats(df, keys, v, factor)
      }),

    // ---- embedding steps: the frame in flight carries the vector
    // column; query sets arrive by path where needed ----

    // exact cosine top-k baseline: queries are a path-named table
    // (bounded query sets; the corpus is the frame in flight), or —
    // with no queries_path — the frame itself (self-knn, the
    // embedding-space-neighbors readout of a trained model)
    "cosine_topk" -> OpSpec(Set("k"),
      Set("queries_path", "id_col", "vec_col"),
      p => {
        val k = p.int("k")
        val id = p.str("id_col", Some("doc_id"))
        val v = p.str("vec_col", Some("embedding"))
        if (p.has("queries_path")) {
          val qp = p.str("queries_path")
          df => Similarity.bruteForceTopK(df,
            df.sparkSession.read.parquet(qp), id, v, k)
        } else {
          df => Similarity.bruteForceTopK(df, df, id, v, k)
        }
      }),

    // long-form (id, index, value) factor rows → dense vector column
    // (the train_node_embeddings → similarity bridge)
    "assemble_vectors" -> OpSpec(Set("id_col", "index_col", "value_col"),
      Set("out_col"),
      p => {
        val (id, ix, v) = (p.str("id_col"), p.str("index_col"),
          p.str("value_col"))
        val out = p.str("out_col", Some("embedding"))
        df => Similarity.assembleVectors(df, id, ix, v, out)
      }),

    // SemDeDup-style embedding near-dup: IVF-bucketed within-cell
    // cosine, never all-pairs
    "sem_dedup" -> OpSpec(Set("threshold"),
      Set("id_col", "vec_col", "nlist", "lloyd_iters"),
      p => {
        val thr = p.dbl("threshold")
        val id = p.str("id_col", Some("doc_id"))
        val v = p.str("vec_col", Some("embedding"))
        val nlist = p.int("nlist", Some(16))
        val li = p.int("lloyd_iters", Some(0))
        df => Similarity.semDedup(df, id, v, thr, nlist, li)
      }),

    "embedding_outliers" -> OpSpec(Set(),
      Set("id_col", "vec_col", "nlist", "z_max", "lloyd_iters"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val v = p.str("vec_col", Some("embedding"))
        val nlist = p.int("nlist", Some(16))
        val z = p.dbl("z_max", Some(2.0))
        val li = p.int("lloyd_iters", Some(0))
        df => Similarity.embeddingOutliers(df, id, v, nlist, z, li)
      }),

    "mean_pool_by_key" -> OpSpec(Set("key_col"),
      Set("vec_col", "normalize"),
      p => {
        val k = p.str("key_col")
        val v = p.str("vec_col", Some("embedding"))
        val nz = p.bool("normalize", Some(false))
        df => Similarity.meanPoolByKey(df, k, v, nz)
      }),

    // ---- in-flight dedup steps (the stored/pair-table forms exist
    // above; these run the full pass on the frame in flight) ----

    "near_dup_pairs" -> OpSpec(Set(),
      Set("id_col", "text_col", "n", "num_hashes", "bands",
        "threshold"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val t = p.str("text_col", Some("text"))
        val n = p.int("n", Some(3))
        val nh = p.int("num_hashes", Some(64))
        val b = p.int("bands", Some(32))
        val thr = p.dbl("threshold", Some(0.5))
        df => Dedup.minHashLshPairs(df, id, t, n, nh, b, thr)
      }),

    "simhash_pairs" -> OpSpec(Set(),
      Set("id_col", "text_col", "n", "hamming_max", "chunks",
        "threshold"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val t = p.str("text_col", Some("text"))
        val n = p.int("n", Some(3))
        val hm = p.int("hamming_max", Some(3))
        val ch = p.int("chunks", Some(4))
        val thr = p.dbl("threshold", Some(0.5))
        df => Dedup.simHashPairs(df, id, t, n, hm, ch, thr)
      }),

    // the frame in flight is the (id_a, id_b) pair table
    "near_dup_clusters" -> OpSpec(Set(), Set("max_iters"),
      p => {
        val it = p.int("max_iters", Some(10))
        df => Dedup.nearDupClusters(df, it)
      }),

    // keep ONE representative per near-dup cluster, best-first by
    // priority: the pair table is a path-named artifact (any
    // dedup-family output), the frame in flight is the corpus
    "keep_best_of_clusters" -> OpSpec(
      Set("pairs_path", "priority_col"), Set("id_col"),
      p => {
        val path = p.str("pairs_path")
        val prio = p.str("priority_col")
        val id = p.str("id_col", Some("doc_id"))
        df => Dedup.keepBestOfClusters(df, id,
          df.sparkSession.read.parquet(path), prio)
      }),

    // ---- per-row text signals: the curation columns every recipe
    // filters on, as scan-speed projections (all stream-safe) ----

    "lang_id" -> OpSpec(Set(), Set("text_col", "out_col"),
      p => {
        val t = p.str("text_col", Some("text"))
        val o = p.str("out_col", Some("lang_id"))
        df => df.withColumn(o,
          TextAnalysis.langIdHeuristic(col(t)))
      }, Streamable()),

    "quality_score" -> OpSpec(Set(), Set("text_col", "out_col"),
      p => {
        val t = p.str("text_col", Some("text"))
        val o = p.str("out_col", Some("quality"))
        df => df.withColumn(o, TextAnalysis.qualityScore(col(t)))
      }, Streamable()),

    "fingerprint" -> OpSpec(Set(), Set("text_col", "out_col"),
      p => {
        val t = p.str("text_col", Some("text"))
        val o = p.str("out_col", Some("fingerprint"))
        df => df.withColumn(o, TextAnalysis.fingerprint(col(t)))
      }, Streamable()),

    // corpus-level keyword extraction (one count + one topK window)
    "keywords_tfidf" -> OpSpec(Set(),
      Set("text_col", "id_col", "top_k"),
      p => {
        val t = p.str("text_col", Some("text"))
        val id = p.str("id_col", Some("doc_id"))
        val k = p.int("top_k", Some(5))
        df => TextAnalysis.keywordsTfIdf(df, t, id, k)
      }),

    "collocations_pmi" -> OpSpec(Set(),
      Set("text_col", "min_count", "top_n"),
      p => {
        val t = p.str("text_col", Some("text"))
        val mc = p.long("min_count", Some(5L))
        val n = p.int("top_n", Some(20))
        df => TextAnalysis.collocationsPmi(df, t, mc, n)
      }),

    // ---- crawl-politeness steps: robots/sitemap parsing, the
    // allow/deny gate (rules as a path-named policy artifact), and
    // per-host frontier scheduling ----

    "parse_robots" -> OpSpec(Set(),
      Set("host_col", "body_col", "agent"),
      p => {
        val h = p.str("host_col", Some("host"))
        val b = p.str("body_col", Some("body"))
        val a = p.str("agent", Some("*"))
        df => Robots.parseRobots(df, h, b, a)
      }),

    "robots_gate" -> OpSpec(Set("rules_path"), Set("url_col"),
      p => {
        val path = p.str("rules_path")
        val u = p.str("url_col", Some("url"))
        df => Robots.robotsGate(df,
          df.sparkSession.read.parquet(path), u)
      }),

    "parse_sitemaps" -> OpSpec(Set(), Set("host_col", "xml_col"),
      p => {
        val h = p.str("host_col", Some("host"))
        val x = p.str("xml_col", Some("xml"))
        df => Sitemaps.parseSitemaps(df, h, x)
      }),

    // now_epoch is an explicit param, never wall-clock: config runs
    // must replay byte-identically
    "recrawl_schedule" -> OpSpec(Set("now_epoch"),
      Set("default_period_s"),
      p => {
        val now = p.long("now_epoch")
        val per = p.long("default_period_s", Some(604800L))
        df => Sitemaps.recrawlSchedule(df, now, per)
      }),

    "frontier_schedule" -> OpSpec(Set(),
      Set("host_col", "url_col", "priority_col", "delay_ms_col",
        "default_delay_ms", "max_per_host"),
      p => {
        val h = p.str("host_col", Some("host"))
        val u = p.str("url_col", Some("url"))
        val prio =
          if (p.has("priority_col")) Some(p.str("priority_col"))
          else None
        val delay =
          if (p.has("delay_ms_col")) Some(p.str("delay_ms_col"))
          else None
        val dd = p.long("default_delay_ms", Some(1000L))
        val mx = p.int("max_per_host", Some(1000))
        df => Frontier.schedule(df, h, u, prio, delay, dd, mx)
      }),

    // ---- reshape steps: wide<->long and multi-level aggregates ----

    "melt" -> OpSpec(Set("id_cols", "value_cols"),
      Set("var_name", "val_name"),
      p => {
        val (ids, vals) = (p.strs("id_cols"), p.strs("value_cols"))
        val vn = p.str("var_name", Some("variable"))
        val vv = p.str("val_name", Some("value"))
        df => Reshape.melt(df, ids, vals, vn, vv)
      }),

    // agg is a SQL aggregate expression; values pins the output
    // columns (the reproducible form — without it the distinct scan
    // is bounded by max_values and fails loudly past it)
    "pivot_agg" -> OpSpec(Set("group_cols", "pivot_col", "agg"),
      Set("values", "max_values"),
      p => {
        val g = p.strs("group_cols")
        val pc = p.str("pivot_col")
        val agg = parseEagerly(p.str("agg"))
        val vals = p.strs("values", Some(Nil))
        val mx = p.int("max_values", Some(1000))
        df => Reshape.pivotAgg(df, g, pc, agg, vals, mx)
      }),

    // multi-level aggregates: aggs are SQL aggregate expressions
    // (alias in the expression — `sum(x) AS sum_x`); one Expand-based
    // pass covers every grouping level
    "cube" -> OpSpec(Set("group_cols", "aggs"), Set(),
      p => {
        val g = p.strs("group_cols")
        val aggs = p.strs("aggs").map(parseEagerly)
        require(aggs.nonEmpty, "pipeline op 'cube': aggs is empty")
        df => df.cube(g.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }),

    "rollup" -> OpSpec(Set("group_cols", "aggs"), Set(),
      p => {
        val g = p.strs("group_cols")
        val aggs = p.strs("aggs").map(parseEagerly)
        require(aggs.nonEmpty, "pipeline op 'rollup': aggs is empty")
        df => df.rollup(g.map(col): _*).agg(aggs.head, aggs.tail: _*)
      }),

    // snapshot diff: the frame in flight is the NEW snapshot, the
    // old one is named by path (the drift-step convention)
    "snapshot_diff" -> OpSpec(
      Set("old_path", "key_cols", "compare_cols"), Set(),
      p => {
        val path = p.str("old_path")
        val keys = p.strs("key_cols")
        val cmp = p.strs("compare_cols")
        df => graft.sources.Layout.snapshotDiff(
          df.sparkSession.read.parquet(path), df, keys, cmp)
      }),

    // ---- the rest of the events family as config: the frame in
    // flight is the event log, column names default to the events
    // table's (user_id, ts, event_id, event_type, value) ----

    "retention_cohorts" -> OpSpec(Set(),
      Set("period_seconds", "user_col", "ts_col"),
      p => {
        val per = p.long("period_seconds", Some(7L * 86400L))
        val u = p.str("user_col", Some("user_id"))
        val ts = p.str("ts_col", Some("ts"))
        df => Events.retentionCohorts(df, u, ts, per)
      }),

    "attribution" -> OpSpec(
      Set("conversion_type", "lookback_seconds"),
      Set("model", "user_col", "type_col", "ts_col", "id_col"),
      p => {
        val conv = p.str("conversion_type")
        val look = p.long("lookback_seconds")
        val model = p.str("model", Some("last_touch"))
        val u = p.str("user_col", Some("user_id"))
        val tp = p.str("type_col", Some("event_type"))
        val ts = p.str("ts_col", Some("ts"))
        val id = p.str("id_col", Some("event_id"))
        df => Events.attributeConversions(df, conv, look, model,
          u, tp, ts, id)
      }),

    "scd2" -> OpSpec(Set("key_col", "attr_col"),
      Set("ts_col", "tie_col"),
      p => {
        val (k, a) = (p.str("key_col"), p.str("attr_col"))
        val ts = p.str("ts_col", Some("ts"))
        val tie = p.str("tie_col", Some("event_id"))
        df => Events.scd2(df, k, a, ts, tie)
      }),

    "gap_fill" -> OpSpec(Set(),
      Set("period_seconds", "user_col", "ts_col", "value_col",
        "id_col"),
      p => {
        val per = p.long("period_seconds", Some(21600L))
        val u = p.str("user_col", Some("user_id"))
        val ts = p.str("ts_col", Some("ts"))
        val v = p.str("value_col", Some("value"))
        val id = p.str("id_col", Some("event_id"))
        df => Events.gapFill(df, per, u, ts, v, id)
      }),

    "rolling_anomalies" -> OpSpec(Set(),
      Set("n_prior", "min_prior", "z_threshold", "user_col",
        "ts_col", "value_col", "id_col"),
      p => {
        val n = p.int("n_prior", Some(20))
        val m = p.int("min_prior", Some(8))
        val z = p.dbl("z_threshold", Some(3.0))
        val u = p.str("user_col", Some("user_id"))
        val ts = p.str("ts_col", Some("ts"))
        val v = p.str("value_col", Some("value"))
        val id = p.str("id_col", Some("event_id"))
        df => Events.rollingAnomalies(df, n, m, z, u, ts, v, id)
      }),

    "transition_matrix" -> OpSpec(Set(),
      Set("user_col", "type_col", "ts_col", "id_col"),
      p => {
        val u = p.str("user_col", Some("user_id"))
        val tp = p.str("type_col", Some("event_type"))
        val ts = p.str("ts_col", Some("ts"))
        val id = p.str("id_col", Some("event_id"))
        df => Events.transitionMatrix(df, u, tp, ts, id)
      }),

    "decayed_activity" -> OpSpec(Set(),
      Set("max_events", "decay", "user_col", "value_col", "ts_col",
        "id_col"),
      p => {
        val n = p.int("max_events", Some(8))
        val d = p.dbl("decay", Some(0.5))
        val u = p.str("user_col", Some("user_id"))
        val v = p.str("value_col", Some("value"))
        val ts = p.str("ts_col", Some("ts"))
        val id = p.str("id_col", Some("event_id"))
        df => Events.decayedActivity(df, n, d, u, v, ts, id)
      }),

    "inter_arrival_stats" -> OpSpec(Set(),
      Set("user_col", "ts_col", "id_col"),
      p => {
        val u = p.str("user_col", Some("user_id"))
        val ts = p.str("ts_col", Some("ts"))
        val id = p.str("id_col", Some("event_id"))
        df => Events.interArrivalStats(df, u, ts, id)
      }),

    "seasonal_baseline" -> OpSpec(Set(),
      Set("key_col", "value_col", "ts_col", "id_col", "k",
        "min_obs"),
      p => {
        val kc = p.str("key_col", Some("event_type"))
        val v = p.str("value_col", Some("value"))
        val ts = p.str("ts_col", Some("ts"))
        val id = p.str("id_col", Some("event_id"))
        val k = p.dbl("k", Some(3.0))
        val mo = p.long("min_obs", Some(30L))
        df => Events.seasonalBaseline(df, kc, v, ts, id, k, mo)
      }),

    "top_paths" -> OpSpec(Set(),
      Set("k", "top_n", "user_col", "type_col", "ts_col", "id_col"),
      p => {
        val k = p.int("k", Some(3))
        val n = p.int("top_n", Some(20))
        val u = p.str("user_col", Some("user_id"))
        val tp = p.str("type_col", Some("event_type"))
        val ts = p.str("ts_col", Some("ts"))
        val id = p.str("id_col", Some("event_id"))
        df => Events.topPaths(df, k, n, u, tp, ts, id)
      }),

    // graph steps: the frame in flight is the edge list
    "pagerank" -> OpSpec(Set("src_col", "dst_col"),
      Set("iters", "damping"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val iters = p.int("iters", Some(3))
        val damping = p.dbl("damping", Some(0.85))
        df => Graph.pageRank(df, src, dst, iters, damping)
      }),

    "connected_components" -> OpSpec(Set("src_col", "dst_col"),
      Set("max_rounds"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val rounds = p.int("max_rounds", Some(40))
        df => Graph.connectedComponents(df, src, dst, rounds)
      }),

    // HyperBall harmonic centrality: per-node HLL registers max-merge
    // along edges — bounded state per node regardless of ball size
    "harmonic_centrality" -> OpSpec(Set("src_col", "dst_col"),
      Set("iters", "b", "undirected"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val iters = p.int("iters", Some(3))
        val b = p.int("b", Some(4))
        val undir = p.bool("undirected", Some(true))
        df => Graph.harmonicCentrality(df, src, dst, iters, b, undir)
      }),

    // reciprocal-mean-distance centrality, same bounded state
    "closeness_centrality" -> OpSpec(Set("src_col", "dst_col"),
      Set("iters", "b", "undirected"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val iters = p.int("iters", Some(3))
        val b = p.int("b", Some(4))
        val undir = p.bool("undirected", Some(true))
        df => Graph.closenessCentrality(df, src, dst, iters, b, undir)
      }),

    // the global HyperBall report: N(k) per radius + effective-
    // diameter fractions, same bounded state as harmonic_centrality
    "neighborhood_function" -> OpSpec(Set("src_col", "dst_col"),
      Set("iters", "b", "undirected"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val iters = p.int("iters", Some(3))
        val b = p.int("b", Some(4))
        val undir = p.bool("undirected", Some(true))
        df => Graph.neighborhoodFunction(df, src, dst, iters, b, undir)
      }),

    // hop-bounded WEIGHTED shortest paths — cost-from-trust; same
    // seed grammar as bfs_distances plus the edge-weight column
    "shortest_paths" -> OpSpec(
      Set("src_col", "dst_col", "weight_col", "seed_condition",
        "seed_col", "max_hops"),
      Set("undirected"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val w = p.str("weight_col")
        val cond = parseEagerly(p.str("seed_condition"))
        val seedCol = p.str("seed_col")
        val hops = p.int("max_hops")
        val undir = p.bool("undirected", Some(true))
        df => Graph.shortestPaths(df, src, dst, w,
          df.filter(cond), seedCol, hops, undir)
      }),

    // multi-source BFS radius: the frame in flight is the edge list;
    // seeds are a compile-parsed row filter over it plus the column
    // holding the seed node — hops-from-trust as one step
    "bfs_distances" -> OpSpec(
      Set("src_col", "dst_col", "seed_condition", "seed_col",
        "max_hops"),
      Set("undirected"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val cond = parseEagerly(p.str("seed_condition"))
        val seedCol = p.str("seed_col")
        val hops = p.int("max_hops")
        val undir = p.bool("undirected", Some(true))
        df => Graph.bfsDistances(df, src, dst,
          df.filter(cond), seedCol, hops, undir)
      }),

    // weight-proportional ranking over a contracted (multiplicity-
    // carrying) edge list — the host_graph companion
    "pagerank_weighted" -> OpSpec(
      Set("src_col", "dst_col", "weight_col"), Set("iters", "damping"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val w = p.str("weight_col")
        val iters = p.int("iters", Some(3))
        val damping = p.dbl("damping", Some(0.85))
        df => Graph.pageRankWeighted(df, src, dst, w, iters, damping)
      }),

    // page-level links -> host graph, the contraction that makes the
    // iterative graph steps above fit a web-scale crawl
    // psl_path loads a FULL public-suffix list (publicsuffix.org
    // format; wildcards, exceptions, private domains) at
    // config-compile time — the driver-bounded artifact the domain
    // contraction then applies per row; without it the compact
    // built-in subset keeps existing configs byte-stable
    // link extraction: <a> tags → (id, link_pos, href, href_abs,
    // anchor) rows — the step that feeds host_graph / pagerank from
    // raw crawl HTML; one codegen'd projection + posexplode,
    // shuffle-free, output ∝ links
    "extract_links" -> OpSpec(Set(),
      Set("id_col", "html_col", "base_url_col"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val html = p.str("html_col", Some("html"))
        val base =
          if (p.has("base_url_col")) Some(p.str("base_url_col"))
          else None
        df => HtmlExtract.extractLinks(df, id, html, base)
      }, Streamable()),

    "host_graph" -> OpSpec(Set("src_col", "dst_url_col"),
      Set("page_id_col", "src_is_url", "to_domain", "psl_path"),
      p => {
        val src = p.str("src_col")
        val dst = p.str("dst_url_col")
        val page = p.str("page_id_col", Some("doc_id"))
        val isUrl = p.bool("src_is_url", Some(true))
        val toDomain = p.bool("to_domain", Some(false))
        val pslPath =
          if (p.has("psl_path")) Some(p.str("psl_path")) else None
        df => Graph.hostGraph(df, src, dst, page, isUrl, toDomain,
          pslPath.map(org.apache.spark.sql.graftext.PslRules
            .load(df.sparkSession, _)))
      }),

    // ---- table-health / governance steps: the stats gates a
    // config-driven curation pipeline wants between transform stages.
    // Drift steps read their REFERENCE distribution from a parquet
    // path (the in-flight frame is the current side), so the config
    // states what the pipeline drifts AGAINST ----

    "profile" -> OpSpec(Set("cols"), Set(),
      p => {
        val cols = p.strs("cols")
        df => Stats.profileColumns(df, cols)
      }),

    "histogram" -> OpSpec(Set("value_col", "bin_width"), Set(),
      p => {
        val (v, w) = (p.str("value_col"), p.dbl("bin_width"))
        df => Stats.histogram(df, v, w)
      }),

    "ks_drift" -> OpSpec(
      Set("baseline_path", "value_col", "bin_width"), Set(),
      p => {
        val path = p.str("baseline_path")
        val (v, w) = (p.str("value_col"), p.dbl("bin_width"))
        df => Stats.ksDrift(df,
          df.sparkSession.read.parquet(path), v, w)
      }),

    "psi_drift" -> OpSpec(
      Set("baseline_path", "value_col", "bin_width"), Set("smooth_k"),
      p => {
        val path = p.str("baseline_path")
        val (v, w) = (p.str("value_col"), p.dbl("bin_width"))
        val k = p.dbl("smooth_k", Some(0.5))
        df => Stats.psiDrift(df,
          df.sparkSession.read.parquet(path), v, w, k)
      }),

    "kl_divergence" -> OpSpec(
      Set("baseline_path", "cat_col"), Set("smooth_k"),
      p => {
        val path = p.str("baseline_path")
        val c = p.str("cat_col")
        val k = p.dbl("smooth_k", Some(0.5))
        df => Stats.klDivergence(df,
          df.sparkSession.read.parquet(path), c, k)
      }),

    // median/scaled-MAD either pinned in the config (both or
    // neither — a lone one fails eagerly by name) or fitted from the
    // in-flight frame at run time (two bounded driver doubles)
    "mad_gate" -> OpSpec(Set(),
      Set("value_col", "median", "scaled_mad", "k"),
      p => {
        val v = p.str("value_col", Some("value"))
        val k = p.dbl("k", Some(3.5))
        val fixed =
          if (p.has("median") || p.has("scaled_mad"))
            Some((p.dbl("median"), p.dbl("scaled_mad")))
          else None
        df => {
          val (m, s) = fixed.getOrElse(Stats.fitMad(df, v))
          Stats.madGate(df, v, m, s, k)
        }
      }),

    "winsorize" -> OpSpec(Set(),
      Set("value_col", "lo", "hi", "id_col"),
      p => {
        val v = p.str("value_col", Some("value"))
        val (lo, hi) = (p.dbl("lo", Some(0.01)), p.dbl("hi", Some(0.99)))
        val id = p.str("id_col", Some("event_id"))
        df => Stats.winsorize(df, v, lo, hi, id)
      }),

    "suppress_below_k" -> OpSpec(Set("quasi_cols", "k"), Set(),
      p => {
        val (cols, k) = (p.strs("quasi_cols"), p.int("k"))
        df => Stats.suppressBelowK(df, cols, k)
      }),

    "approx_distinct" -> OpSpec(Set("cols"), Set("b"),
      p => {
        val cols = p.strs("cols")
        val b = p.int("b", Some(12))
        df => Stats.approxDistinct(df, cols, b)
      }),

    // ---- data contracts: dbt-style expectations as pipeline gates.
    // expect_columns checks the in-flight SCHEMA the moment the frame
    // reaches the step (before any job); expect_condition rides
    // in-plan as a row-level assert, so a violating row fails the
    // job LOUDLY instead of flowing downstream; both stream-safe ----

    // schema contract: the DDL parses (and thereby validates) at
    // config-compile time; the check itself runs when the frame
    // arrives, naming every missing column, every type mismatch
    // (got vs want), and — under allow_extra=false — every
    // undeclared extra
    "expect_columns" -> OpSpec(Set("schema"), Set("allow_extra"),
      p => {
        val want = parseDdl(p.str("schema"))
        val allowExtra = p.bool("allow_extra", Some(true))
        df => {
          val have = df.schema
          val haveNames = have.fieldNames.toSet
          val missing = want.filterNot(f => haveNames.contains(f.name))
            .map(_.name)
          val mismatched = want
            .filter(f => haveNames.contains(f.name) &&
              have(f.name).dataType != f.dataType)
            .map(f => s"${f.name} (got " +
              s"${have(f.name).dataType.catalogString}, want " +
              s"${f.dataType.catalogString})")
          val extras =
            if (allowExtra) Nil
            else have.fieldNames.toSeq
              .filterNot(want.fieldNames.toSet.contains)
          require(
            missing.isEmpty && mismatched.isEmpty && extras.isEmpty,
            "pipeline op 'expect_columns': " + (
              (if (missing.nonEmpty)
                Seq("missing: " + missing.mkString(", ")) else Nil) ++
              (if (mismatched.nonEmpty)
                Seq("type mismatch: " + mismatched.mkString(", "))
              else Nil) ++
              (if (extras.nonEmpty)
                Seq("unexpected: " + extras.mkString(", ")) else Nil))
              .mkString("; "))
          df
        }
      }, Streamable()),

    // schema CONFORMANCE — the contract's repairing sibling: reshape
    // the frame TO the DDL. Missing columns materialize as typed
    // NULLs (add_missing = false makes them a loud error instead),
    // mismatched types cast (ANSI mode: a value that can't cast
    // fails the job loudly rather than silently nulling), undeclared
    // columns drop (keep_undeclared = true appends them after the
    // declared prefix). Output order = DDL order — the shape a union
    // of heterogeneous crawl batches needs. Pure projection:
    // stream-whitelisted
    "conform_schema" -> OpSpec(Set("schema"),
      Set("add_missing", "keep_undeclared"),
      p => {
        val want = parseDdl(p.str("schema"))
        val addMissing = p.bool("add_missing", Some(true))
        val keepUndeclared = p.bool("keep_undeclared", Some(false))
        df => {
          val have = df.schema
          val haveNames = have.fieldNames.toSet
          val missing = want.filterNot(f => haveNames.contains(f.name))
            .map(_.name)
          require(addMissing || missing.isEmpty,
            "pipeline op 'conform_schema': missing columns " +
              s"${missing.mkString(", ")} (add_missing = false)")
          val declared = want.map { f =>
            if (!haveNames.contains(f.name))
              lit(null).cast(f.dataType).as(f.name)
            else if (have(f.name).dataType == f.dataType) col(f.name)
            else col(f.name).cast(f.dataType).as(f.name)
          }
          val extras =
            if (keepUndeclared)
              have.fieldNames.toSeq
                .filterNot(want.fieldNames.toSet.contains).map(col)
            else Nil
          df.select(declared ++ extras: _*)
        }
      }, Streamable()),

    // sink layout control: hash-repartition by count and/or columns
    // (one shuffle, the write-parallelism / co-location knob), or
    // lower parallelism WITHOUT a shuffle
    "repartition" -> OpSpec(Set(), Set("n", "cols"),
      p => {
        require(p.has("n") || p.has("cols"),
          "pipeline op 'repartition': need n and/or cols")
        val n = if (p.has("n")) Some(p.int("n")) else None
        val cols_ = p.strs("cols", Some(Nil)).map(col)
        n.foreach(v => require(v >= 1,
          "pipeline op 'repartition': n must be >= 1"))
        df => (n, cols_) match {
          case (Some(v), Seq()) => df.repartition(v)
          case (Some(v), cs)    => df.repartition(v, cs: _*)
          case (None, cs)       => df.repartition(cs: _*)
        }
      }),

    "coalesce" -> OpSpec(Set("n"), Set(),
      p => {
        val n = p.int("n")
        require(n >= 1, "pipeline op 'coalesce': n must be >= 1")
        df => df.coalesce(n)
      }),

    // uniqueness contract: every key combination must occur exactly
    // once — the dbt `unique` test as an in-plan gate. One keyed
    // window (partitioned — never a global order) counts each key's
    // rows and the assert fails the job loudly on the first
    // duplicate; the filter reads the window output, so pushdown
    // cannot move it. Costs one shuffle by the key — the real price
    // of a uniqueness check; batch-only (window aggregates don't
    // stream — gate before the stream or key the sink instead).
    // NULL keys group together: pair with expect_condition
    // ("k IS NOT NULL") when nulls must be rejected rather than
    // deduplicated against each other.
    "expect_unique" -> OpSpec(Set("cols"),
      Set("name", "quarantine_path"),
      p => {
        val cols = p.strs("cols")
        require(cols.nonEmpty,
          "pipeline op 'expect_unique': param 'cols' must be non-empty")
        val tag = p.str("name", Some(cols.mkString(",")))
        val qp = quarantineTarget(p, "expect_unique")
        df => {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(cols.map(col): _*)
          // collision-proof internal name: withColumn replaces by
          // name, so a user column called __expect_n must survive
          val tmp = Iterator.from(0).map(i => s"__expect_n$i")
            .find(n => !df.columns.contains(n)).get
          val counted = df.withColumn(tmp, count(lit(1)).over(w))
          qp match {
            case None =>
              counted.filter(assert_true(col(tmp) === 1,
                lit(s"pipeline expect_unique '$tag' violated " +
                  s"(duplicate key on ${cols.mkString(", ")})")).isNull)
                .drop(tmp)
            case Some(dir) =>
              counted.filter(col(tmp) > 1).drop(tmp)
                .write.mode("overwrite").parquet(dir)
              counted.filter(col(tmp) === 1).drop(tmp)
          }
        }
      }),

    // row contract: an in-plan assert_true filter — every row must
    // satisfy the condition (a NULL condition counts as a
    // violation, ANSI-style). Scan-speed, stateless, stream-safe.
    // The condition rides inside a [[PlanAnchor]] (a zero-cost
    // non-deterministic identity), so Catalyst cannot push the
    // assert below a join/aggregate and fire it on a pre-image
    // superset — the contract is checked exactly where the config
    // declares it (a plain rand() anchor folds away under Spark 4's
    // OptimizeRand; the anchor has no rewrite rule by construction).
    // Cost: later filters don't reorder below the gate — the honest
    // price of an anchored contract; place filters before contracts
    // when both apply.
    // `quarantine_path` flips either contract from ABORT to
    // STORE-FAILURES (the dbt convention): violating rows — including
    // NULL conditions — land under `<path>/gate=<name>` (overwrite:
    // re-runs replace their own gate's table, never double-append)
    // and the surviving rows continue. Requires an explicit
    // path-safe `name`. Costs one extra upstream pass for the
    // violation write — quarantine heavy chains after a persisted
    // boundary. Batch-only (the eager write): rejected from
    // streaming configs by param.
    "expect_condition" -> OpSpec(Set("condition"),
      Set("name", "quarantine_path"),
      p => {
        val sql = p.str("condition")
        val cond = parseEagerly(sql)
        val tag = p.str("name", Some(sql))
        val qp = quarantineTarget(p, "expect_condition")
        df => qp match {
          case None =>
            df.filter(assert_true(
              org.apache.spark.sql.graftext.PlanAnchor(cond),
              lit(s"pipeline expect_condition '$tag' violated " +
                s"($sql)")).isNull)
          case Some(dir) =>
            val ok = coalesce(cond, lit(false))
            df.filter(!ok).write.mode("overwrite").parquet(dir)
            df.filter(ok)
        }
      }, Streamable("condition")),

    // ---- statistical tests / model-quality / key-health steps:
    // the rest of the Stats surface as config (one in-flight frame
    // + scalar params each; referential_orphans names its parent
    // table by path, the drift-step convention) ----

    "quantile_stats" -> OpSpec(Set("value_col", "qs"),
      Set("eps", "group_cols"),
      p => {
        val (v, qs) = (p.str("value_col"), p.dbls("qs"))
        val eps = p.dbl("eps", Some(0.0))
        val g = p.strs("group_cols", Some(Nil))
        df => Stats.quantileStats(df, v, qs, eps, g)
      }),

    "equi_depth_histogram" -> OpSpec(Set("value_col"), Set("bins"),
      p => {
        val v = p.str("value_col")
        val bins = p.int("bins", Some(10))
        df => Stats.equiDepthHistogram(df, v, bins)
      }),

    "ecdf_normalize" -> OpSpec(Set("score_col"), Set("bins"),
      p => {
        val sc = p.str("score_col")
        val bins = p.int("bins", Some(1000))
        df => Stats.ecdfNormalize(df, sc, bins)
      }),

    "pr_curve" -> OpSpec(Set("score_col", "label_col"), Set("bins"),
      p => {
        val (sc, l) = (p.str("score_col"), p.str("label_col"))
        val bins = p.int("bins", Some(100))
        df => Stats.prCurve(df, sc, l, bins)
      }),

    "auc_binned" -> OpSpec(Set("score_col", "label_col"), Set("bins"),
      p => {
        val (sc, l) = (p.str("score_col"), p.str("label_col"))
        val bins = p.int("bins", Some(100))
        df => Stats.aucBinned(df, sc, l, bins)
      }),

    "calibration_curve" -> OpSpec(Set("prob_col", "label_col"),
      Set("bins"),
      p => {
        val (pc, l) = (p.str("prob_col"), p.str("label_col"))
        val bins = p.int("bins", Some(10))
        df => Stats.calibrationCurve(df, pc, l, bins)
      }),

    "correlation_matrix" -> OpSpec(Set("cols"), Set("scale"),
      p => {
        val cols = p.strs("cols")
        val sc = p.int("scale", Some(4))
        df => Stats.correlationMatrix(df, cols, sc)
      }),

    "cohen_kappa" -> OpSpec(Set("col_a", "col_b"), Set(),
      p => {
        val (a, b) = (p.str("col_a"), p.str("col_b"))
        df => Stats.cohenKappa(df, a, b)
      }),

    "key_concentration" -> OpSpec(Set("key_col"), Set(),
      p => {
        val k = p.str("key_col")
        df => Stats.keyConcentration(df, k)
      }),

    "benford_test" -> OpSpec(Set("value_col"), Set(),
      p => {
        val v = p.str("value_col")
        df => Stats.benfordTest(df, v)
      }),

    "chi_square" -> OpSpec(Set("col_a", "col_b"), Set(),
      p => {
        val (a, b) = (p.str("col_a"), p.str("col_b"))
        df => Stats.chiSquareIndependence(df, a, b)
      }),

    "welch_ttest" -> OpSpec(
      Set("value_col", "group_col", "group_a", "group_b"),
      Set("scale"),
      p => {
        val v = p.str("value_col")
        val g = p.str("group_col")
        val (a, b) = (p.str("group_a"), p.str("group_b"))
        val sc = p.int("scale", Some(4))
        df => Stats.welchTTest(df, v, g, a, b, sc)
      }),

    "proportion_ztest" -> OpSpec(
      Set("success_col", "group_col", "group_a", "group_b"), Set(),
      p => {
        val sCol = p.str("success_col")
        val g = p.str("group_col")
        val (a, b) = (p.str("group_a"), p.str("group_b"))
        df => Stats.proportionZTest(df, sCol, g, a, b)
      }),

    "k_anonymity_violations" -> OpSpec(Set("quasi_cols", "k"), Set(),
      p => {
        val (cols, k) = (p.strs("quasi_cols"), p.int("k"))
        df => Stats.kAnonymityViolations(df, cols, k)
      }),

    "referential_orphans" -> OpSpec(
      Set("parent_path", "child_key", "parent_key", "label"), Set(),
      p => {
        val path = p.str("parent_path")
        val (ck, pk) = (p.str("child_key"), p.str("parent_key"))
        val label = p.str("label")
        df => Stats.referentialOrphans(df,
          df.sparkSession.read.parquet(path), ck, pk, label)
      }),

    // ---- the rest of the graph family as config (the frame in
    // flight is the edge list, the pagerank/components convention) ----

    "adamic_adar" -> OpSpec(Set("src_col", "dst_col"),
      Set("top_n", "max_degree"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val n = p.int("top_n", Some(20))
        val d = p.int("max_degree", Some(64))
        df => Graph.adamicAdar(df, src, dst, n, d)
      }),

    "hits" -> OpSpec(Set("src_col", "dst_col"), Set("iters"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val iters = p.int("iters", Some(2))
        df => Graph.hits(df, src, dst, iters)
      }),

    "k_core" -> OpSpec(Set("src_col", "dst_col", "k"),
      Set("max_rounds"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val k = p.int("k")
        val r = p.int("max_rounds", Some(30))
        df => Graph.kCore(df, src, dst, k, r)
      }),

    "label_propagation" -> OpSpec(Set("src_col", "dst_col"),
      Set("iters"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val iters = p.int("iters", Some(3))
        df => Graph.labelPropagation(df, src, dst, iters)
      }),

    // hash-seeded walk-corpus generation (node2vec/DeepWalk shape):
    // deterministic by construction — same seed, same walks; n walks
    // per node = n runs with different seeds, unioned downstream
    // AFTER keying each walk's start uniquely (walk_pairs enforces
    // one walk per start and fails loudly on duplicates).
    // With `start_condition` (SQL over the edge frame; matching
    // SOURCE nodes start a walk) the hub-degree-proof bucketed form
    // runs instead — same hash grammar, same positions, per-step
    // cost ∝ walkers not Σ deg(frontier); `bucket_cap` sizes the
    // per-bucket sorted adjacency arrays
    "random_walks" -> OpSpec(
      Set("src_col", "dst_col", "steps", "seed"),
      Set("undirected", "start_condition", "bucket_cap"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val steps = p.int("steps")
        val seed = p.str("seed")
        val undir = p.bool("undirected", Some(true))
        if (p.has("start_condition")) {
          val cond = parseEagerly(p.str("start_condition"))
          val cap = p.int("bucket_cap", Some(1024))
          df => Graph.seededWalks(df,
            src, dst, df.filter(cond).select(col(src).as("node")),
            "node", steps, seed, undir, cap)
        } else {
          require(!p.has("bucket_cap"),
            "random_walks: bucket_cap applies only to the seeded " +
              "(start_condition) form")
          df => Graph.deterministicWalks(df, src, dst, steps, seed,
            undir)
        }
      }),

    // skip-gram (center, context) pair generation over a walk
    // corpus — the in-flight frame is random_walks' output
    "walk_pairs" -> OpSpec(Set("window"),
      Set("start_col", "step_col", "node_col"),
      p => {
        val win = p.int("window")
        val sc = p.str("start_col", Some("start"))
        val pc = p.str("step_col", Some("step"))
        val nc = p.str("node_col", Some("node"))
        df => Graph.walkPairs(df, win, sc, pc, nc)
      }),

    // second-order (p, q)-biased walks — node2vec's transition
    // kernel on the integer weight lattice; the in-flight frame is
    // the edge list. With `start_condition` (SQL over the edge
    // frame; matching SOURCE nodes start a walk) the hub-degree-proof
    // cumulative-weight-bucketed form runs instead — same draw
    // grammar, same positions, per-step cost ∝ walkers not
    // Σ deg(cur); `bucket_cap` sizes the weight-space windows
    "node2vec_walks" -> OpSpec(
      Set("src_col", "dst_col", "steps", "p", "q", "seed"),
      Set("undirected", "start_condition", "bucket_cap"),
      params => {
        val (src, dst) = (params.str("src_col"), params.str("dst_col"))
        val steps = params.int("steps")
        val p = params.int("p")
        val q = params.int("q")
        val seed = params.str("seed")
        val undir = params.bool("undirected", Some(true))
        if (params.has("start_condition")) {
          val cond = parseEagerly(params.str("start_condition"))
          val cap = params.int("bucket_cap", Some(1024))
          df => Graph.node2vecSeededWalks(df, src, dst,
            df.filter(cond).select(col(src).as("node")), "node",
            steps, p, q, seed, undir, cap)
        } else {
          require(!params.has("bucket_cap"),
            "node2vec_walks: bucket_cap applies only to the seeded " +
              "(start_condition) form")
          df => Graph.node2vecWalks(df, src, dst, steps, p, q, seed,
            undir)
        }
      }),

    // hash-seeded negative sampling over a walk_pairs corpus — the
    // in-flight frame is walk_pairs' output
    "walk_negatives" -> OpSpec(Set("k", "seed"), Set("buckets"),
      p => {
        val k = p.int("k")
        val seed = p.str("seed")
        val b = p.int("buckets", Some(256))
        df => Graph.skipGramNegatives(df, k, seed, b)
      }),

    // positives + k hash-seeded negatives as ONE labeled example
    // frame (center, context, label) — the skip-gram training input;
    // the in-flight frame is walk_pairs' output
    "walk_examples" -> OpSpec(Set("k", "seed"), Set("buckets"),
      p => {
        val k = p.int("k")
        val seed = p.str("seed")
        val b = p.int("buckets", Some(256))
        // one pairs materialization for positives + negatives (the
        // hand-composed union evaluated the pair chain twice)
        df => Graph.skipGramExamples(df, k, seed, b)
      }),

    // full-batch skip-gram embedding training on the decimal
    // lattice — the in-flight frame is walk_examples' output
    "train_node_embeddings" -> OpSpec(
      Set("dim", "iters", "lr", "seed"), Set(),
      p => {
        val dim = p.int("dim")
        val iters = p.int("iters")
        val lr = p.dbl("lr")
        val seed = p.str("seed")
        df => Graph.trainNodeEmbeddings(df, dim, iters, lr, seed)
      }),

    // the trainer's convergence curve from config: per-iteration
    // full-batch log-loss of the SAME run (integer-lattice ln terms)
    // — a user tunes lr/iters against this readout without writing a
    // probe query
    "train_node_embeddings_loss" -> OpSpec(
      Set("dim", "iters", "lr", "seed"), Set(),
      p => {
        val dim = p.int("dim")
        val iters = p.int("iters")
        val lr = p.dbl("lr")
        val seed = p.str("seed")
        df => Graph.trainNodeEmbeddingsLoss(df, dim, iters, lr, seed)
      }),

    "triangle_counts" -> OpSpec(Set("src_col", "dst_col"), Set(),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        df => Graph.triangleCounts(df, src, dst)
      }),

    "assortativity" -> OpSpec(Set("src_col", "dst_col"), Set(),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        df => Graph.assortativity(df, src, dst)
      }),

    // seeds ride in the config: either a bounded literal id list
    // (`seeds`, the centroids convention) or — the SF-independent
    // form — a compile-parsed `seed_condition` over the edge frame
    // whose matching SOURCE nodes seed the walk (the operator dedups
    // seeds internally, so selecting src per matching EDGE is
    // equivalent to selecting each matching node once). Exactly one
    // of the two; the in-flight frame is still the edges
    "personalized_pagerank" -> OpSpec(
      Set("src_col", "dst_col"),
      Set("seeds", "seed_condition", "iters", "damping"),
      p => {
        val (src, dst) = (p.str("src_col"), p.str("dst_col"))
        val iters = p.int("iters", Some(3))
        val damping = p.dbl("damping", Some(0.85))
        require(p.has("seeds") != p.has("seed_condition"),
          "personalized_pagerank: exactly one of 'seeds' (literal " +
            "id list) or 'seed_condition' (SQL over the edge frame) " +
            "is required")
        if (p.has("seed_condition")) {
          val cond = parseEagerly(p.str("seed_condition"))
          df => Graph.personalizedPageRank(df,
            df.filter(cond).select(col(src).as("node")), src, dst,
            "node", iters, damping)
        } else {
          val seeds = p.dbls("seeds").map(_.toLong)
          df => {
            val ss = df.sparkSession
            import ss.implicits._
            Graph.personalizedPageRank(df, seeds.toDF("node"), src,
              dst, "node", iters, damping)
          }
        }
      }),

    // ---- stateful streaming steps beyond windowed_stats: each
    // carries its own watermark in the config (the streamable-gate
    // contract: a config states its event-time bound) ----

    // per-window quantiles, append-mode as the watermark closes
    // windows; exact at eps = 0 (parity-spec'd on MemoryStream)
    "windowed_quantiles_watermarked" -> OpSpec(
      Set("watermark_delay", "qs"),
      Set("value_col", "ts_col", "window_length", "eps", "group_cols"),
      p => {
        val wm = p.str("watermark_delay")
        val qs = p.dbls("qs")
        val v = p.str("value_col", Some("value"))
        val ts = p.str("ts_col", Some("ts"))
        val win = p.str("window_length", Some("1 hour"))
        val eps = p.dbl("eps", Some(0.0))
        val gcols = p.strs("group_cols", Some(Nil))
        df => graft.streaming.StreamOps.windowedQuantilesStream(
          df, v, qs, ts, win, wm, eps, gcols)
      }, BatchSensitive()),

    // per-window trending tokens (Misra-Gries state, append-mode on
    // window close). Input frame needs (doc_id, text, ts) — the
    // StreamDoc shape; extra columns are dropped by the typed view.
    // Streaming-shaped: on a batch frame the state API has no
    // watermark to close windows against, so run it under
    // fromStepsStreaming (where it is whitelisted)
    "trending_tokens_watermarked" -> OpSpec(
      Set("watermark_delay"),
      Set("window_seconds", "capacity", "top_k"),
      p => {
        val wm = p.str("watermark_delay")
        val winS = p.int("window_seconds", Some(3600)).toLong
        val cap = p.int("capacity", Some(4096))
        val topK = p.int("top_k", Some(10))
        df => {
          val ss = df.sparkSession
          import ss.implicits._
          graft.streaming.StreamOps.trendingTokensStream(
            df.withWatermark("ts", wm)
              .select(col("doc_id").cast("long").as("doc_id"),
                col("text").cast("string").as("text"), col("ts"))
              .as[graft.streaming.StreamOps.StreamDoc],
            winS, cap, topK).toDF()
        }
      }, BatchSensitive()),

    // live host-graph edges per closed window (the host_graph
    // companion for streams; approx distinct pages — exact
    // count_distinct is not streamable)
    "host_graph_windowed" -> OpSpec(
      Set("watermark_delay", "src_col", "dst_url_col"),
      Set("page_id_col", "ts_col", "window_length", "src_is_url"),
      p => {
        val wm = p.str("watermark_delay")
        val (src, dst) = (p.str("src_col"), p.str("dst_url_col"))
        val page = p.str("page_id_col", Some("doc_id"))
        val ts = p.str("ts_col", Some("ts"))
        val win = p.str("window_length", Some("1 hour"))
        val isUrl = p.bool("src_is_url", Some(true))
        df => graft.streaming.StreamOps.hostGraphWindowedStream(
          df, src, dst, page, ts, win, wm, isUrl)
      }, BatchSensitive()),

    // stateful gap-sessionization for streams: the
    // flatMapGroupsWithState operator behind the config surface —
    // sessions close on the gap rule or the watermark timeout, and
    // numbering matches batch sessionize (parity spec-pinned).
    // Input frame needs (user_id, ts, event_id), the SessionEvent
    // shape; extra columns are dropped by the typed view
    "sessionize_watermarked" -> OpSpec(
      Set("watermark_delay", "gap_seconds"),
      Set("idle_retention_seconds"),
      p => {
        val wm = p.str("watermark_delay")
        val gap = p.long("gap_seconds")
        val idle =
          if (p.has("idle_retention_seconds"))
            Some(p.long("idle_retention_seconds"))
          else None
        df => {
          val ss = df.sparkSession
          import ss.implicits._
          graft.streaming.StreamOps.sessionizeStream(
            df.withWatermark("ts", wm)
              .select(col("user_id").cast("long").as("user_id"),
                col("event_id").cast("long").as("event_id"),
                col("ts"))
              .as[graft.streaming.StreamOps.SessionEvent],
            gap, idle).toDF()
        }
      }, BatchSensitive()),

    // streaming dedup by key: Spark's dropDuplicatesWithinWatermark
    // (state = one stored row per live key, evicted when the
    // watermark passes it); on a BATCH frame the same step is plain
    // dropDuplicates — the config means "unique by key" either way
    "drop_duplicates_watermarked" -> OpSpec(
      Set("keys", "watermark_delay"), Set("ts_col"),
      p => {
        val keys = p.strs("keys")
        val wm = p.str("watermark_delay")
        val tsCol = p.str("ts_col", Some("ts"))
        df =>
          if (df.isStreaming)
            df.withWatermark(tsCol, wm)
              .dropDuplicatesWithinWatermark(keys)
          else df.dropDuplicates(keys)
      }, BatchSensitive()),

    // the SPLITTING form of streaming dedup: every row rides through
    // with a deterministic first-seen boolean (arrival order,
    // order_cols tiebreak within a micro-batch, state expires at
    // watermark + retention) — filter(flag) is dedup, and composing
    // with expect_condition + quarantine_path quarantines the
    // duplicates instead of dropping them (the streaming complement
    // of batch expect_unique's store-failures mode). On a BATCH
    // frame the flag degenerates to global (order_cols)-order
    // first-per-key — exactly what replaying all data as one batch
    // yields — so the step is DuckDB-oracle-able (row_number = 1)
    "first_seen_flags_watermarked" -> OpSpec(
      Set("keys", "watermark_delay", "order_cols"),
      Set("ts_col", "retention_seconds", "flag_col"),
      p => {
        val keys = p.strs("keys")
        val wm = p.str("watermark_delay")
        val ords = p.strs("order_cols")
        val tsCol = p.str("ts_col", Some("ts"))
        val ret = p.long("retention_seconds", Some(0L))
        val flag = p.str("flag_col", Some("is_first"))
        df => {
          // the stream face rejects a colliding flag name (schema.add
          // would duplicate it); reject on the batch face too so the
          // two faces agree instead of batch silently REPLACING
          require(!df.columns.contains(flag),
            s"first_seen_flags_watermarked: flag_col '$flag' already " +
              "exists in the input — pick a fresh name")
          if (df.isStreaming)
            graft.streaming.StreamOps.firstSeenFlags(
              df.withWatermark(tsCol, wm), keys, tsCol, ords, ret,
              flag)
          else
            df.withColumn(flag, row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(keys.map(col): _*)
                .orderBy(ords.map(col): _*)) === 1)
        }
      }, BatchSensitive()),

    // per-closed-window smoothed KL drift against a persisted
    // reference (named by path, the drift-step convention) — the
    // live companion of the batch kl_divergence step. Input frame
    // needs (ts, <category_col>), the DriftEvent shape
    "kl_drift_watermarked" -> OpSpec(
      Set("watermark_delay", "reference_path"),
      Set("ref_cat_col", "window_seconds", "smooth_k",
        "category_col"),
      p => {
        val wm = p.str("watermark_delay")
        val refPath = p.str("reference_path")
        val refCat = p.str("ref_cat_col", Some("category"))
        val winS = p.long("window_seconds", Some(3600L))
        val k = p.dbl("smooth_k", Some(0.5))
        val cat = p.str("category_col", Some("category"))
        df => {
          val ss = df.sparkSession
          import ss.implicits._
          graft.streaming.StreamOps.klDriftStream(
            df.withWatermark("ts", wm)
              .select(col("ts"),
                col(cat).cast("string").as("category"))
              .as[graft.streaming.StreamOps.DriftEvent],
            ss.read.parquet(refPath), refCat, winS, k).toDF()
        }
      }, BatchSensitive()),

    // streaming SCD2: closed validity intervals emit as the
    // watermark passes their end boundary — the live companion of
    // the batch scd2 step (which also emits the OPEN tail row;
    // streams can't, it isn't final). Input needs (key, tie, ts,
    // attr) columns; key/tie must cast to long
    "scd2_watermarked" -> OpSpec(
      Set("watermark_delay", "key_col", "attr_col"),
      Set("ts_col", "tie_col"),
      p => {
        val wm = p.str("watermark_delay")
        val (k, a) = (p.str("key_col"), p.str("attr_col"))
        val ts = p.str("ts_col", Some("ts"))
        val tie = p.str("tie_col", Some("event_id"))
        df => {
          val ss = df.sparkSession
          import ss.implicits._
          graft.streaming.StreamOps.scd2Stream(
            df.select(col(k).cast("long").as("user_id"),
                col(tie).cast("long").as("event_id"),
                col(ts).as("ts"),
                col(a).cast("string").as("value"))
              .withWatermark("ts", wm)
              .as[graft.streaming.StreamOps.Scd2Event]).toDF()
        }
      }, BatchSensitive()),

    // streaming time-correlation joins: ONE stream in flight splits
    // by two compile-parsed row conditions into the left and right
    // sides (the purchase←click self-join shape — the same split the
    // batch replays express with filter + right_filter), then joins
    // event-time-exactly under the config's watermark. as-of rides
    // the flatMapGroupsWithState state machine; range is Spark's own
    // symmetric stream-stream hash join with the range predicate as
    // the state-eviction condition
    "asof_join_watermarked" -> OpSpec(
      Set("left_condition", "right_condition"),
      Set("watermark_delay", "key_col", "ts_col", "left_id_col",
        "right_id_col"),
      p => {
        val lcond = parseEagerly(p.str("left_condition"))
        val rcond = parseEagerly(p.str("right_condition"))
        val wm = p.str("watermark_delay", Some("2 hours"))
        val key = p.str("key_col", Some("user_id"))
        val ts = p.str("ts_col", Some("ts"))
        val lid = p.str("left_id_col", Some("event_id"))
        val rid = p.str("right_id_col", Some("event_id"))
        df => {
          val ss = df.sparkSession
          import ss.implicits._
          val l = df.filter(lcond)
            .select(col(key).cast("long").as("user_id"),
              col(lid).cast("long").as("event_id"), col(ts).as("ts"))
            .as[graft.streaming.StreamOps.LeftEvent]
          val r = df.filter(rcond)
            .select(col(key).cast("long").as("user_id"),
              col(rid).cast("long").as("right_id"), col(ts).as("ts"))
            .as[graft.streaming.StreamOps.RightEvent]
          graft.streaming.StreamOps.asOfJoinStream(l, r, wm).toDF()
        }
      }, BatchSensitive("left_condition", "right_condition")),

    "range_join_watermarked" -> OpSpec(
      Set("left_condition", "right_condition", "lower_seconds",
        "upper_seconds"),
      Set("watermark_delay", "key_col", "ts_col", "left_id_col",
        "right_id_col"),
      p => {
        val lcond = parseEagerly(p.str("left_condition"))
        val rcond = parseEagerly(p.str("right_condition"))
        val (lo, hi) =
          (p.long("lower_seconds"), p.long("upper_seconds"))
        val wm = p.str("watermark_delay", Some("2 hours"))
        val key = p.str("key_col", Some("user_id"))
        val ts = p.str("ts_col", Some("ts"))
        val lid = p.str("left_id_col", Some("event_id"))
        val rid = p.str("right_id_col", Some("event_id"))
        df => {
          val l = df.filter(lcond)
            .select(col(key), col(ts), col(lid).as("event_id"))
          val r = df.filter(rcond)
            .select(col(key), col(ts), col(rid).as("right_id"))
          graft.streaming.StreamOps.rangeJoinStream(l, r,
            key, ts, lo, hi, Seq("event_id"), Seq("right_id"), wm)
        }
      }, BatchSensitive("left_condition", "right_condition")),

    // stateful streaming tranche 4: the remaining per-user
    // flatMapGroupsWithState operators behind config. All take the
    // events-table column shape (user_id / event_id / ts /
    // value / event_type) and the mandatory watermark; each is
    // batch-parity spec'd at the operator level, and the config
    // bodies are pure typed-view adapters
    "funnel_watermarked" -> OpSpec(
      Set("watermark_delay", "steps", "window_seconds"),
      Set("emitted_retention_seconds"),
      p => {
        val wm = p.str("watermark_delay")
        val steps = p.strs("steps")
        val win = p.long("window_seconds")
        val ret =
          if (p.has("emitted_retention_seconds"))
            Some(p.long("emitted_retention_seconds"))
          else Some(7L * 24 * 3600)
        df => {
          val ss = df.sparkSession
          import ss.implicits._
          graft.streaming.StreamOps.funnelStream(
            df.withWatermark("ts", wm)
              .select(col("user_id").cast("long").as("user_id"),
                col("event_type").cast("string").as("event_type"),
                col("ts"))
              .as[graft.streaming.StreamOps.FunnelEvent],
            steps, win, ret).toDF()
        }
      }, BatchSensitive()),

    "gap_fill_watermarked" -> OpSpec(Set("watermark_delay"),
      Set("period_seconds", "idle_retention_seconds"),
      p => {
        val wm = p.str("watermark_delay")
        val per = p.long("period_seconds", Some(21600L))
        val idle =
          if (p.has("idle_retention_seconds"))
            Some(p.long("idle_retention_seconds"))
          else None
        df => {
          val ss = df.sparkSession
          import ss.implicits._
          graft.streaming.StreamOps.gapFillStream(
            df.withWatermark("ts", wm)
              .select(col("user_id").cast("long").as("user_id"),
                col("event_id").cast("long").as("event_id"),
                col("ts"), col("value").cast("double").as("value"))
              .as[graft.streaming.StreamOps.GapEvent],
            per, idle).toDF()
        }
      }, BatchSensitive()),

    "rolling_anomalies_watermarked" -> OpSpec(Set("watermark_delay"),
      Set("n_prior", "min_prior", "z_threshold",
        "idle_retention_seconds"),
      p => {
        val wm = p.str("watermark_delay")
        val n = p.int("n_prior", Some(20))
        val m = p.int("min_prior", Some(8))
        val z = p.dbl("z_threshold", Some(3.0))
        val idle =
          if (p.has("idle_retention_seconds"))
            Some(p.long("idle_retention_seconds"))
          else None
        df => {
          val ss = df.sparkSession
          import ss.implicits._
          graft.streaming.StreamOps.rollingAnomaliesStream(
            df.withWatermark("ts", wm)
              .select(col("user_id").cast("long").as("user_id"),
                col("event_id").cast("long").as("event_id"),
                col("ts"), col("value").cast("double").as("value"))
              .as[graft.streaming.StreamOps.AnomEvent],
            n, m, z, idle).toDF()
        }
      }, BatchSensitive()),

    "decayed_activity_watermarked" -> OpSpec(Set("watermark_delay"),
      Set("max_events", "decay", "idle_retention_seconds"),
      p => {
        val wm = p.str("watermark_delay")
        val n = p.int("max_events", Some(8))
        val d = p.dbl("decay", Some(0.5))
        val idle =
          if (p.has("idle_retention_seconds"))
            Some(p.long("idle_retention_seconds"))
          else None
        df => {
          val ss = df.sparkSession
          import ss.implicits._
          graft.streaming.StreamOps.decayedActivityStream(
            df.withWatermark("ts", wm)
              .select(col("user_id").cast("long").as("user_id"),
                col("event_id").cast("long").as("event_id"),
                col("ts"), col("value").cast("double").as("value"))
              .as[graft.streaming.StreamOps.AnomEvent],
            n, d, idle).toDF()
        }
      }, BatchSensitive()),

    "top_paths_watermarked" -> OpSpec(Set("watermark_delay"),
      Set("k", "type_col"),
      p => {
        val wm = p.str("watermark_delay")
        val k = p.int("k", Some(3))
        val tp = p.str("type_col", Some("event_type"))
        df => {
          val ss = df.sparkSession
          import ss.implicits._
          graft.streaming.StreamOps.topPathsStream(
            df.withWatermark("ts", wm)
              .select(col("user_id").cast("long").as("user_id"),
                col("event_id").cast("long").as("event_id"),
                col("ts"), col(tp).cast("string").as("value"))
              .as[graft.streaming.StreamOps.Scd2Event], k).toDF()
        }
      }, BatchSensitive()),

    "transition_pairs_watermarked" -> OpSpec(Set("watermark_delay"),
      Set("idle_retention_seconds", "type_col"),
      p => {
        val wm = p.str("watermark_delay")
        val tp = p.str("type_col", Some("event_type"))
        val idle =
          if (p.has("idle_retention_seconds"))
            Some(p.long("idle_retention_seconds"))
          else None
        df => {
          val ss = df.sparkSession
          import ss.implicits._
          graft.streaming.StreamOps.transitionPairsStream(
            df.withWatermark("ts", wm)
              .select(col("user_id").cast("long").as("user_id"),
                col("event_id").cast("long").as("event_id"),
                col("ts"), col(tp).cast("string").as("value"))
              .as[graft.streaming.StreamOps.Scd2Event], idle).toDF()
        }
      }, BatchSensitive()),

    // ---- multimodal steps: the asset pipeline's config surface ----

    // wrap a payload column as the (id, content, meta) asset table —
    // the entry point of the asset domain; per-row, so stream-safe
    "as_assets" -> OpSpec(Set("mime"),
      Set("id_col", "payload_col", "source_col"),
      p => {
        val mime = p.str("mime")
        val id = p.str("id_col", Some("doc_id"))
        val pay = p.str("payload_col", Some("text"))
        val src = p.str("source_col", Some("source"))
        df => Multimodal.asAssets(df, id, pay, mime, src)
      }, Streamable()),

    // mime-dispatched decode + feature extraction (WAV/BMP/PNG/GIF/
    // JPEG/MJPEG-AVI real decoders, stub fallback) — per-row, so
    // stream-safe
    "decode_features" -> OpSpec(Set(), Set(),
      _ => df => Multimodal.extractFeatures(df), Streamable()),

    // perceptual-hash near-dup pairs over an asset frame: decode
    // once to an 8-byte hash, then the banded chunk equi-join —
    // never all-pairs
    "phash_dedup" -> OpSpec(Set(), Set("hamming_max", "chunks"),
      p => {
        val h = p.int("hamming_max", Some(3))
        val c = p.int("chunks", Some(4))
        df => Multimodal.phashNearDupPairs(
          Multimodal.perceptualHashes(df), h, c)
      }),

    // the audio leg of the dedup family in config form (phash_dedup's
    // precedent): energy-envelope delta fingerprints over an asset
    // frame, then banded near-dup pairs — split into two steps so the
    // fingerprint frame itself is addressable mid-config (persist it,
    // join it, or feed audio_near_dup directly)
    "audio_fingerprints" -> OpSpec(Set(),
      Set("frame_size", "n_frames"),
      p => {
        val fs = p.int("frame_size", Some(1024))
        val nf = p.int("n_frames", Some(65))
        df => Multimodal.audioFingerprints(df, fs, nf)
      }),

    // near-dup pairs over an audio_fingerprints frame (the banded
    // chunk equi-join — never all-pairs)
    "audio_near_dup" -> OpSpec(Set(), Set("hamming_max", "chunks"),
      p => {
        val h = p.int("hamming_max", Some(4))
        val c = p.int("chunks", Some(8))
        df => Multimodal.audioNearDupPairs(df, h, c)
      }),

    // the video leg: frame-sequence fingerprints over an asset frame
    // (deterministic-stride sample through the AVI movi list, one
    // grid-delta hash per sampled frame)…
    "video_fingerprints" -> OpSpec(Set(),
      Set("stride", "max_frames"),
      p => {
        val st = p.int("stride", Some(2))
        val mf = p.int("max_frames", Some(8))
        df => Multimodal.videoFingerprints(df, st, mf)
      }),

    // …and aligned-sequence near-dup pairs over that frame
    // (position-0 chunk banding for candidates, exact
    // max-per-position verify — never all-pairs)
    "video_near_dup" -> OpSpec(Set(), Set("hamming_max", "chunks"),
      p => {
        val h = p.int("hamming_max", Some(4))
        val c = p.int("chunks", Some(8))
        df => Multimodal.videoNearDupPairs(df, h, c)
      }),

    // stateless per-row steps rounding out the crawl/curation chain
    // in config form (all stream-safe)
    "canonicalize_urls" -> OpSpec(Set(),
      Set("id_col", "url_col", "strip_www", "passthrough_cols"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val url = p.str("url_col", Some("url"))
        val www = p.bool("strip_www", Some(true))
        val pass = p.strs("passthrough_cols", Some(Nil))
        df => UrlOps.canonicalizeUrls(df, id, url, www, pass)
      }, Streamable()),

    "split_sentences" -> OpSpec(Set(),
      Set("id_col", "text_col", "passthrough_cols"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val text = p.str("text_col", Some("text"))
        val pass = p.strs("passthrough_cols", Some(Nil))
        df => Sentences.splitSentences(df, id, text, pass)
      }, Streamable()),

    "readability_scores" -> OpSpec(Set(),
      Set("id_col", "text_col", "passthrough_cols"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val text = p.str("text_col", Some("text"))
        val pass = p.strs("passthrough_cols", Some(Nil))
        df => Sentences.readabilityScores(df, id, text, pass)
      }, Streamable()),

    "gopher_repetition_flags" -> OpSpec(Set(),
      Set("id_col", "text_col", "passthrough_cols"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val text = p.str("text_col", Some("text"))
        val pass = p.strs("passthrough_cols", Some(Nil))
        df => TextAnalysis.gopherRepetitionFlags(df, id, text,
          passthroughCols = pass)
      }, Streamable()),

    "compression_ratio" -> OpSpec(Set(),
      Set("text_col", "out_col", "level"),
      p => {
        val text = p.str("text_col", Some("text"))
        val out = p.str("out_col", Some("deflate_ratio"))
        val level = p.int("level", Some(6))
        df => df.withColumn(out,
          TextAnalysis.compressionRatio(col(text), level))
      }, Streamable()),

    // persisted-model inference steps: the model loads (and its kind
    // tag verifies) at CONFIG-COMPILE time — a config pointing a BPE
    // step at a pieces store fails before any job, and the loaded
    // artifact rides the compiled pipeline as literals (a tokenizer
    // must not drift mid-corpus)
    "bpe_tokenize_stored" -> OpSpec(Set("model_path"),
      Set("text_col", "id_col"),
      p => {
        val merges = ModelStore.bpeFromModel(
          org.apache.spark.sql.SparkSession.active, p.str("model_path"))
        val text = p.str("text_col", Some("text"))
        val id = p.str("id_col", Some("doc_id"))
        df => TextAnalysis.bpeTokenize(df, merges, text, id)
      }, Streamable()),

    "score_logistic_stored" -> OpSpec(Set("model_path"),
      Set("text_col", "id_col"),
      p => {
        val weights = ModelStore.logisticFromModel(
          org.apache.spark.sql.SparkSession.active, p.str("model_path"))
        val text = p.str("text_col", Some("text"))
        val id = p.str("id_col", Some("doc_id"))
        df => TextClassify.scoreLogisticInline(df, weights, id, text)
      }, Streamable()),

    // prose-vs-code routing signal: appends n_lines / code_lines /
    // code_frac / is_codey to the frame (pure projection, stream-safe)
    "code_line_stats" -> OpSpec(Set(),
      Set("text_col", "threshold"),
      p => {
        val text = p.str("text_col", Some("text"))
        val thr = p.dbl("threshold", Some(0.3))
        df => TextAnalysis.codeLineStats(df, text, thr)
      }, Streamable()),

    "pieces_tokenize_stored" -> OpSpec(Set("model_path"),
      Set("text_col", "id_col"),
      p => {
        val (vocab, window) = ModelStore.piecesVocabFromModel(
          org.apache.spark.sql.SparkSession.active, p.str("model_path"))
        val text = p.str("text_col", Some("text"))
        val id = p.str("id_col", Some("doc_id"))
        df => TextAnalysis.piecesTokenize(df, id, text, vocab,
          maxPieceLen = window)
      }, Streamable()),

    "unigram_tokenize_stored" -> OpSpec(Set("model_path"),
      Set("text_col", "id_col", "unk_lp"),
      p => {
        val (vocab, window) = ModelStore.unigramVocabFromModel(
          org.apache.spark.sql.SparkSession.active, p.str("model_path"))
        val text = p.str("text_col", Some("text"))
        val id = p.str("id_col", Some("doc_id"))
        val unk = p.dbl("unk_lp", Some(-100.0))
        df => TextAnalysis.unigramTokenize(df, id, text, vocab,
          maxPieceLen = window, unkLp = unk)
      }, Streamable()),

    // perplexity-proxy fluency gates from persisted LMs (batch-only:
    // KN scoring aggregates per-document over the in-flight frame)
    "score_kn_stored" -> OpSpec(Set("model_path"),
      Set("text_col", "id_col", "discount"),
      p => {
        val lm = ModelStore.lmFromModel(
          org.apache.spark.sql.SparkSession.active, p.str("model_path"))
        val text = p.str("text_col", Some("text"))
        val id = p.str("id_col", Some("doc_id"))
        val d = p.dbl("discount", Some(0.75))
        df => LanguageModel.scoreByKneserNey(df, lm, id, text, d)
      }),

    "score_kn_ngram_stored" -> OpSpec(Set("model_path"),
      Set("text_col", "id_col", "order"),
      p => {
        val lm = ModelStore.ngramsFromModel(
          org.apache.spark.sql.SparkSession.active, p.str("model_path"))
        val text = p.str("text_col", Some("text"))
        val id = p.str("id_col", Some("doc_id"))
        val ord = p.int("order", Some(3))
        df => LanguageModel.scoreByKneserNeyN(df, lm, id, text, ord)
      }),

    "gopher_quality_flags" -> OpSpec(Set(),
      Set("id_col", "text_col", "min_words", "max_words",
        "min_stopwords", "passthrough_cols"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val text = p.str("text_col", Some("text"))
        val minW = p.int("min_words", Some(50))
        val maxW = p.int("max_words", Some(100000))
        val minS = p.int("min_stopwords", Some(2))
        val pass = p.strs("passthrough_cols", Some(Nil))
        df => TextAnalysis.gopherQualityFlags(df, id, text,
          minWords = minW, maxWords = maxW, minStopwords = minS,
          passthroughCols = pass)
      }, Streamable()),

    // raw WARC record rows (path, rec_id, __rec) — what the warcgz
    // file source and read_warc_gz emit — projected to the parsed
    // record shape (warc_type, target_uri, content_length, payload).
    // Pure projection: streams unchanged
    "parse_warc_records" -> OpSpec(Set(), Set("id_col"),
      p => {
        val id = p.str("id_col", Some("path"))
        df => graft.sources.Warc.parseRecordRows(df, id)
      }, Streamable()),

    // the HTTP split + charset-chain decode over parsed records —
    // parse_warc_records's downstream half of the crawl chain.
    // Pure projection: streams unchanged
    "http_responses" -> OpSpec(Set(), Set("payload_col"),
      p => {
        val payload = p.str("payload_col", Some("payload"))
        df => graft.sources.Warc.httpResponses(df, payload)
      }, Streamable()),

    // jusText-class main-content extraction: html -> text lines with
    // boilerplate rules. Pure projection: streams unchanged
    "extract_text" -> OpSpec(Set(),
      Set("id_col", "html_col", "min_chars", "max_link_density",
        "passthrough_cols"),
      p => {
        val id = p.str("id_col", Some("doc_id"))
        val html = p.str("html_col", Some("html"))
        val minChars = p.int("min_chars", Some(25))
        val mld = p.dbl("max_link_density", Some(0.33))
        val pass = p.strs("passthrough_cols", Some(Nil))
        df => HtmlExtract.extractText(df, id, html, minChars, mld,
          passthroughCols = pass)
      }, Streamable()),

    // persisted-ARTIFACT probe steps: the frame in flight is the
    // probe side (a query table, a new-document batch), the artifact
    // on disk is the corpus-sized side — the config form of the
    // write-once / probe-many workflows (write_search_index,
    // write_signature_store, build_ann_index sinks below)
    "bm25_from_index" -> OpSpec(Set("index_path", "k"),
      Set("query_id_col", "query_text_col", "k1", "b"),
      p => {
        val path = p.str("index_path")
        val k = p.int("k")
        val qid = p.str("query_id_col", Some("query_id"))
        val qtext = p.str("query_text_col", Some("qtext"))
        val k1 = p.dbl("k1", Some(1.2))
        val b = p.dbl("b", Some(0.75))
        df => TextSearch.bm25FromIndex(df.sparkSession, path, df, k,
          qid, qtext, k1, b)
      }),

    // (id_a = store id, id_b = in-flight id, jaccard) collisions of
    // the batch against the persisted corpus signatures — the
    // contamination/incremental-dedup probe
    "near_dup_pairs_stored" -> OpSpec(Set("store_path"),
      Set("id_col", "text_col", "threshold"),
      p => {
        val path = p.str("store_path")
        val id = p.str("id_col", Some("doc_id"))
        val text = p.str("text_col", Some("text"))
        val t = p.dbl("threshold", Some(0.5))
        df => Dedup.minHashLshPairsAgainstStore(df, path, id, text, t)
      }),

    // the gate form: keep only batch docs that do NOT collide with
    // the persisted corpus (the store-probe pairs put the batch id in
    // id_b, which is exactly dropNearDuplicates' drop side)
    "drop_near_duplicates_stored" -> OpSpec(Set("store_path"),
      Set("id_col", "text_col", "threshold"),
      p => {
        val path = p.str("store_path")
        val id = p.str("id_col", Some("doc_id"))
        val text = p.str("text_col", Some("text"))
        val t = p.dbl("threshold", Some(0.5))
        df => Dedup.dropNearDuplicates(df, id,
          Dedup.minHashLshPairsAgainstStore(df, path, id, text, t))
      }),

    // CDC MERGE as a config step: the in-flight frame is the
    // snapshot, the changeset reads from a parquet path — latest
    // change per key wins, deletes drop, upserts insert-or-replace
    // (Layout.applyChanges: the snapshot side is one broadcast-able
    // anti join, it never shuffles when the delta is day-scale)
    "apply_changes" -> OpSpec(Set("changes_path", "key_cols"),
      Set("seq_col", "op_col"),
      p => {
        val path = p.str("changes_path")
        val keys = p.strs("key_cols")
        val seqC = p.str("seq_col", Some("seq"))
        val opC = p.str("op_col", Some("op"))
        df => graft.sources.Layout.applyChanges(df,
          df.sparkSession.read.parquet(path), keys, seqC, opC)
      }),

    // ANN probe over a persisted IVF index: centroids load (bounded:
    // nlist rows) at config-compile time from the sibling store the
    // build_ann_index sink writes, so a stale/missing centroid table
    // fails before any job
    "ann_topk_indexed" -> OpSpec(
      Set("index_path", "centroids_path", "k"),
      Set("id_col", "vec_col", "nprobe", "quantized"),
      p => {
        val idx = p.str("index_path")
        val cents = readCentroids(
          org.apache.spark.sql.SparkSession.active,
          p.str("centroids_path"))
        val k = p.int("k")
        val id = p.str("id_col", Some("doc_id"))
        val vec = p.str("vec_col", Some("embedding"))
        val nprobe = p.int("nprobe", Some(4))
        val q = p.bool("quantized", Some(false))
        df =>
          if (q) Similarity.ivfTopKIndexedQuantized(idx, cents, df, id,
            vec, k, nprobe)
          else Similarity.ivfTopKIndexed(idx, cents, df, id, vec, k,
            nprobe)
      }))

  /** Source steps — the step-0 whitelist that makes a config file a
    * COMPLETE pipeline (source → operators → result) instead of a
    * transform over an already-loaded frame. Same eager-validation
    * discipline; each returns the frame the operator chain starts
    * from. */
  val sourceOps: Map[String, (Seq[String], Seq[String],
      (org.apache.spark.sql.SparkSession, Params) => DataFrame)] = Map(
    "read_parquet" -> ((Seq("path"), Seq(),
      (s, p) => s.read.parquet(p.str("path")))),
    "read_table" -> ((Seq("dir", "table"), Seq(),
      (s, p) => graft.sources.Sources.table(s, p.str("dir"),
        p.str("table")))),
    "read_orc" -> ((Seq("path"), Seq(),
      (s, p) => graft.sources.Sources.readOrc(s, p.str("path")))),
    "read_avro" -> ((Seq("path"), Seq(),
      (s, p) => graft.sources.Sources.readAvro(s, p.str("path")))),
    "read_warc_gz" -> ((Seq("paths"), Seq("path_col"),
      (s, p) => graft.sources.Warc.readWarcGz(s, p.strs("paths"),
        p.str("path_col", Some("path"))))),
    // schemaless formats carry the schema IN the config as a DDL
    // string ("a BIGINT, b STRING") — parsed (and thereby validated)
    // at config-compile time, so inference never scans the data twice
    // and a typo'd type names itself before any job
    "read_jsonl" -> ((Seq("path", "schema"), Seq(),
      (s, p) => graft.sources.Sources.readJsonl(s, p.str("path"),
        parseDdl(p.str("schema"))))),
    "read_csv" -> ((Seq("path", "schema"), Seq(),
      (s, p) => graft.sources.Sources.readCsv(s, p.str("path"),
        parseDdl(p.str("schema"))))),
    // merged-sketch sources: the frame IS the artifact readout (the
    // read side of the write_quantile_shards / write_profile_shards
    // sinks) — corpus-level stats without rescanning the corpus
    "quantiles_from_shards" -> ((Seq("path", "qs"), Seq("eps"),
      (s, p) => Stats.quantilesFromShards(s, p.str("path"),
        p.dbls("qs"), p.dbl("eps", Some(0.0))))),
    "profile_from_shards" -> ((Seq("path", "cols"), Seq(),
      (s, p) => Stats.profileFromShards(s, p.str("path"),
        p.strs("cols")))),
    "cardinality_from_shards" -> ((Seq("path", "cols"), Seq("b"),
      (s, p) => Stats.cardinalityFromShards(s, p.str("path"),
        p.strs("cols"), p.int("b", Some(12))))))

  /** Sink steps — the optional LAST step that makes a config a
    * complete JOB (source → operators → sink) instead of a frame
    * expression. Same eager-validation discipline. */
  val sinkOps: Map[String, (Seq[String], Seq[String],
      (DataFrame, Params) => Unit)] = Map(
    "write_parquet" -> ((Seq("path"), Seq("mode"),
      (df, p) => df.write.mode(p.str("mode", Some("overwrite")))
        .parquet(p.str("path")))),
    "write_orc" -> ((Seq("path"), Seq("mode"),
      (df, p) => df.write.mode(p.str("mode", Some("overwrite")))
        .orc(p.str("path")))),
    "write_avro" -> ((Seq("path"), Seq(),
      (df, p) => graft.sources.Sources.writeAvro(df, p.str("path")))),
    "write_jsonl" -> ((Seq("path"), Seq(),
      (df, p) => graft.sources.Sources.writeJsonl(df, p.str("path")))),
    "write_csv" -> ((Seq("path"), Seq(),
      (df, p) => graft.sources.Sources.writeCsv(df, p.str("path")))),
    // model-TRAINING sinks: the frame in flight is the training
    // corpus; the artifact lands in the ModelStore, ready for the
    // *_stored inference steps and the streaming loaders — the full
    // train -> store -> serve lifecycle as one config
    "train_bpe_model" -> ((Seq("path"), Seq("text_col", "num_merges"),
      (df, p) => ModelStore.writeBpeModel(
        TextAnalysis.trainBpe(df, p.str("text_col", Some("text")),
          p.int("num_merges", Some(10))), p.str("path")))),
    "train_ngram_model" -> ((Seq("path"),
      Seq("id_col", "text_col", "max_n"),
      (df, p) => {
        val n = p.int("max_n", Some(3))
        ModelStore.writeNgramModel(
          LanguageModel.trainNgrams(df, p.str("id_col", Some("doc_id")),
            p.str("text_col", Some("text")), n), p.str("path"), n)
      })),
    "train_pieces_model" -> ((Seq("path"),
      Seq("text_col", "top_n", "max_piece_len"),
      (df, p) => {
        val len = p.int("max_piece_len", Some(8))
        ModelStore.writePiecesModel(
          TextAnalysis.trainPieces(df, p.str("text_col", Some("text")),
            p.int("top_n", Some(500)), len), p.str("path"), len)
      })),
    "train_unigram_model" -> ((Seq("path"),
      Seq("text_col", "seed_top_n", "max_piece_len", "keep_n",
        "em_rounds", "max_word_len"),
      (df, p) => {
        val len = p.int("max_piece_len", Some(6))
        ModelStore.writeUnigramModel(
          TextAnalysis.trainUnigram(df, p.str("text_col", Some("text")),
            p.int("seed_top_n", Some(200)), len,
            p.int("keep_n", Some(100)), p.int("em_rounds", Some(2)),
            p.int("max_word_len", Some(16))), p.str("path"), len)
      })),
    "train_lm_model" -> ((Seq("path"), Seq("id_col", "text_col"),
      (df, p) => ModelStore.writeLmModel(
        LanguageModel.trainBigram(df, p.str("id_col", Some("doc_id")),
          p.str("text_col", Some("text"))), p.str("path")))),
    "train_logistic_model" -> ((Seq("path", "label_col"),
      Seq("id_col", "text_col", "dim", "iters"),
      (df, p) => ModelStore.writeLogisticModel(
        TextClassify.trainLogisticHashed(df,
          p.str("id_col", Some("doc_id")),
          p.str("text_col", Some("text")), p.str("label_col"),
          p.int("dim", Some(32)), p.int("iters", Some(3))),
        p.str("path")))),
    // artifact-BUILD sinks: the frame in flight is the corpus; the
    // persisted artifact serves the probe steps above (and their
    // hand-written operator forms) — index once, probe many
    "write_search_index" -> ((Seq("path"),
      Seq("id_col", "text_col", "shards"),
      (df, p) => TextSearch.writeSearchIndex(df, p.str("path"),
        p.str("id_col", Some("doc_id")), p.str("text_col", Some("text")),
        p.int("shards", Some(0))))),
    "write_signature_store" -> ((Seq("path"),
      Seq("id_col", "text_col", "n", "num_hashes", "bands"),
      (df, p) => Dedup.writeBandSignatures(df,
        p.str("id_col", Some("doc_id")), p.str("text_col", Some("text")),
        p.str("path"), p.int("n", Some(3)),
        p.int("num_hashes", Some(64)), p.int("bands", Some(32))))),
    "write_quantile_shards" -> ((Seq("path", "value_col", "shard_cols"),
      Seq("eps"),
      (df, p) => Stats.writeQuantileShards(df, p.str("path"),
        p.str("value_col"), p.strs("shard_cols"),
        p.dbl("eps", Some(0.0))))),
    "write_profile_shards" -> ((Seq("path", "cols", "shard_cols"), Seq(),
      (df, p) => Stats.writeProfileShards(df, p.str("path"),
        p.strs("cols"), p.strs("shard_cols")))),
    "write_cardinality_shards" -> ((
      Seq("path", "cols", "shard_cols"), Seq("b"),
      (df, p) => Stats.writeCardinalityShards(df, p.str("path"),
        p.strs("cols"), p.strs("shard_cols"), p.int("b", Some(12))))),
    // layout sinks: write-time clustering / point-lookup filters /
    // CDC bucketing — the parquet-layout decisions that bound scan
    // cost at 100 TB, now expressible per recipe
    "zorder_write" -> ((Seq("path", "z_cols", "num_files"),
      Seq("bits"),
      (df, p) => graft.sources.Layout.zOrderWrite(df,
        p.strs("z_cols"), p.str("path"), p.int("num_files"),
        p.int("bits", Some(16))))),
    "bloom_filtered_write" -> ((Seq("path", "bloom_cols"),
      Seq("ndv", "fpp"),
      (df, p) => graft.sources.Layout.bloomFilteredWrite(df,
        p.strs("bloom_cols"), p.str("path"),
        p.long("ndv", Some(100000L)), p.dbl("fpp", Some(0.01))))),
    "write_bucketed_snapshot" -> ((
      Seq("path", "key_cols", "n_buckets"), Seq(),
      (df, p) => graft.sources.Layout.writeBucketedSnapshot(df,
        p.str("path"), p.strs("key_cols"), p.int("n_buckets")))),
    // directory maintenance as the job's sink: compaction re-lists
    // and rewrites the directory itself (the OPTIMIZE role) — the
    // in-flight frame is NOT what is written; the conventional job
    // reads the same path so the source step validates readability
    // before the swap
    "compact_files" -> ((Seq("path"), Seq("target_bytes", "sort_col"),
      (df, p) => {
        graft.sources.Layout.compact(df.sparkSession, p.str("path"),
          p.long("target_bytes", Some(128L << 20)),
          if (p.has("sort_col")) Some(p.str("sort_col")) else None)
        ()
      })),
    // incremental index maintenance from config: fold the in-flight
    // frame (the day's delta) into a persisted write_search_index
    // artifact WITHOUT re-tokenizing the old corpus — merged index ==
    // writeSearchIndex(old ∪ new) exactly (the operator's contract)
    "merge_search_index" -> ((Seq("path", "out_path"),
      Seq("id_col", "text_col", "shards"),
      (df, p) => TextSearch.mergeSearchIndex(df.sparkSession,
        p.str("path"), df, p.str("out_path"),
        p.str("id_col", Some("doc_id")), p.str("text_col", Some("text")),
        p.int("shards", Some(0))))),
    // IVF build persists BOTH halves a later config needs: the
    // cell-partitioned index at index_path and the (bounded, nlist-
    // row) centroid table at centroids_path — ann_topk_indexed loads
    // the latter at compile time
    "build_ann_index" -> ((Seq("index_path", "centroids_path"),
      Seq("id_col", "vec_col", "nlist", "lloyd_iters", "quantized"),
      (df, p) => {
        val id = p.str("id_col", Some("doc_id"))
        val vec = p.str("vec_col", Some("embedding"))
        val idx = p.str("index_path")
        val nlist = p.int("nlist", Some(16))
        val iters = p.int("lloyd_iters", Some(2))
        // quantized = SQ8 payloads (int8 codes, ~8x smaller files,
        // integer scoring) behind the same cell pruning; the probe
        // step must pass the matching quantized flag
        val centroids =
          if (p.bool("quantized", Some(false)))
            Similarity.buildIvfIndexQuantized(df, id, vec, idx, nlist,
              iters)
          else Similarity.buildIvfIndex(df, id, vec, idx, nlist, iters)
        writeCentroids(df.sparkSession, p.str("centroids_path"),
          centroids)
      })))

  /** STREAMING source steps — step 0 of a streaming job config.
    * Schemaless streaming reads carry the schema in the config (the
    * read_jsonl discipline): Structured Streaming cannot infer
    * schemas without scanning, and a stream source must plan before
    * data exists. */
  val streamSourceOps: Map[String, (Seq[String], Seq[String],
      (org.apache.spark.sql.SparkSession, Params) => DataFrame)] = Map(
    "read_stream_parquet" -> ((Seq("path", "schema"), Seq(),
      (s, p) => s.readStream.schema(parseDdl(p.str("schema")))
        .parquet(p.str("path")))),
    // the registered warcgz file source: newly-landing crawl shards
    // are discovered and ingested incrementally
    "read_stream_warcgz" -> ((Seq("path"), Seq(),
      (s, p) => s.readStream
        .schema(org.apache.spark.sql.graftext.WarcGzFileFormat.schema)
        .format("warcgz").load(p.str("path")))),
    // the registered avro container source: newly-landing row-format
    // dumps (CDC exports, Kafka archive spills) ingest incrementally;
    // schema is declared in the config (file-stream sources cannot
    // infer), DDL-parsed at compile time like read_stream_parquet
    "read_stream_avro" -> ((Seq("path", "schema"), Seq(),
      (s, p) => s.readStream.schema(parseDdl(p.str("schema")))
        .format("graftavro").load(p.str("path")))))

  /** How a STREAMING sink step runs. Both forms compile from the
    * step's params once, when the query starts. */
  sealed trait StreamSink
  /** A sink Spark runs itself: the compiled function starts the query
    * on the frame it is handed. */
  final case class NativeSink(compile: Params => DataFrame =>
      org.apache.spark.sql.streaming.StreamingQuery) extends StreamSink
  /** A per-micro-batch body: [[startStream]] starts the query under
    * the step's `checkpoint` param and hands the body each micro-batch
    * and its id (`foreachBatch`). A replayed micro-batch arrives with
    * the same id, so a body is exactly-once when it overwrites a table
    * keyed by the id ([[batchPath]]) or drops what an earlier attempt
    * already applied. */
  final case class BatchSink(compile: Params => (DataFrame, Long) => Unit)
      extends StreamSink

  /** STREAMING sink steps — the LAST step of a streaming job config;
    * the started query returns to the caller, who owns
    * awaitTermination / stop. The native sinks run in append mode:
    * the streamable steps emit append-only rows. */
  val streamSinkOps: Map[String, (Seq[String], Seq[String], StreamSink)] =
    Map(
      "write_stream_parquet" -> ((Seq("path", "checkpoint"), Seq(),
        NativeSink(p => df => df.writeStream.format("parquet")
          .option("path", p.str("path"))
          .option("checkpointLocation", p.str("checkpoint"))
          .outputMode("append").start()))),
      // test/dev sink: results land in an in-memory table named here
      "write_stream_memory" -> ((Seq("name"), Seq(),
        NativeSink(p => df => df.writeStream.format("memory")
          .queryName(p.str("name")).outputMode("append").start()))),
      // CDC sink: each micro-batch merges into a parquet snapshot
      // (Layout.mergeSnapshot — latest-seq-wins with the stale-change
      // guard; a whole-snapshot swap, or only the touched buckets)
      "merge_stream_snapshot" -> ((
        Seq("snapshot_path", "checkpoint", "key_cols"),
        Seq("seq_col", "op_col", "n_buckets"),
        BatchSink(p => {
          val path = p.str("snapshot_path")
          val keys = p.strs("key_cols")
          require(keys.nonEmpty, "merge_stream_snapshot: key_cols is empty")
          val seqC = p.str("seq_col", Some("seq"))
          val opC = p.str("op_col", Some("op"))
          val buckets =
            if (p.has("n_buckets")) Some(p.int("n_buckets")) else None
          (batch, _) => graft.sources.Layout.mergeSnapshot(
            batch.sparkSession, path, batch, keys, buckets, seqC, opC)
        }))),
      // dedup sink: accepted documents append their LSH signatures to
      // the persisted store (Dedup.appendBandSignatures — replays and
      // the mid-append crash window converge clean). Gate FIRST, append
      // survivors: probe → drop near-dups → this sink.
      "append_stream_signature_store" -> ((
        Seq("store_path", "checkpoint"),
        Seq("id_col", "text_col"),
        BatchSink(p => {
          val path = p.str("store_path")
          val id = p.str("id_col", Some("doc_id"))
          val text = p.str("text_col", Some("text"))
          (batch, _) => Dedup.appendBandSignatures(batch, id, text, path)
        }))),
      // vector-store sink: embeddings append into a persisted IVF index
      // under the centroids the build sink persisted, loaded once at
      // start (Similarity.appendIvfIndex — already-indexed ids drop, so
      // replays are no-ops; retraining is a deliberate rebuild)
      "append_stream_ann_index" -> ((
        Seq("index_path", "centroids_path", "checkpoint"),
        Seq("id_col", "vec_col"),
        BatchSink(p => {
          val cents = readCentroids(
            org.apache.spark.sql.SparkSession.active,
            p.str("centroids_path"))
          require(cents.nonEmpty,
            s"empty centroid store at ${p.str("centroids_path")}: " +
              "build the index first (build_ann_index)")
          val idx = p.str("index_path")
          val id = p.str("id_col", Some("vec_id"))
          val vec = p.str("vec_col", Some("embedding"))
          (batch, _) => Similarity.appendIvfIndex(batch, idx, cents, id, vec)
        }))),
      // monitoring sinks: one mergeable shard per micro-batch, so the
      // *_from_shards sources read the corpus summary at any moment
      // without rescanning ingested data
      "write_stream_quantile_shards" -> perBatchShards("write_quantile_shards"),
      "write_stream_profile_shards" -> perBatchShards("write_profile_shards"),
      "write_stream_cardinality_shards" ->
        perBatchShards("write_cardinality_shards"),
      // retrieval sink: each micro-batch of documents folds into the
      // persisted BM25 index (TextSearch.mergeSearchIndex's posting
      // union, swapped in by Layout.swapIn so probes always see a
      // complete index). Doc ids already in the index drop first (one
      // anti join against the postings' pruned doc_id column), so a
      // replayed micro-batch is a no-op: first write wins per doc id —
      // give a re-crawled revision a new id, or rebuild.
      "merge_stream_search_index" -> ((
        Seq("index_path", "checkpoint"),
        Seq("id_col", "text_col", "shards"),
        BatchSink(p => {
          val idx = p.str("index_path")
          val id = p.str("id_col", Some("doc_id"))
          val text = p.str("text_col", Some("text"))
          val shards = p.int("shards", Some(0))
          (batch, _) => {
            val spark = batch.sparkSession
            graft.sources.Layout.swapIn(spark, idx, "merge") { tmp =>
              val seen = spark.read.parquet(s"$idx/postings")
                .select(col("doc_id").as("__seen")).distinct()
              val fresh =
                batch.join(seen, col(id) === col("__seen"), "left_anti")
              !fresh.isEmpty && {
                TextSearch.mergeSearchIndex(spark, idx, fresh, tmp, id,
                  text, shards)
                true
              }
            }
          }
        }))))

  /** The streaming shard sink of the batch sink `op`: the batch sink's
    * params plus `checkpoint`, and each micro-batch's shard written by
    * the batch body under `path/batch=<id>` — overwritten when a
    * micro-batch replays, so a replay rewrites its own shard instead
    * of double-counting. The summaries are mergeable, so the reader
    * over `path` sees every micro-batch's shard as one corpus. */
  private def perBatchShards(op: String)
      : (Seq[String], Seq[String], StreamSink) = {
    val (required, optional, write) = sinkOps(op)
    (required :+ "checkpoint", optional, BatchSink(p => {
      val root = p.str("path")
      (batch, id) => write(batch, p.updated("path", batchPath(root, id)))
    }))
  }

  /** Run a COMPLETE STREAMING job config: first step a streaming
    * source, then the chain [[startStream]] starts over the source's
    * frame. The whole config validates — including the
    * non-streamable-step rejection — before the source is touched. */
  def startStreamSteps(spark: org.apache.spark.sql.SparkSession,
                       steps: Seq[Step],
                       extra: Map[String, OpSpec] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val expanded = expandIncludes(steps)
    require(expanded.size >= 2,
      "streaming job config needs a source step and a sink step")
    val source = expanded.head
    val read = lookup(streamSourceOps, "first", "streaming source", source)
    val start = compileStream(expanded.tail, extra)
    start(read(spark, new Params(source.op, source.params)))
  }

  /** Self-contained streaming config text ([[parse]]) → started
    * query ([[startStreamSteps]]). */
  def startStreamJson(spark: org.apache.spark.sql.SparkSession,
                      json: String,
                      extra: Map[String, OpSpec] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startStreamSteps(spark, parse(json), extra)

  /** [[startStreamJson]] under the name perfbench's `stream_gate`
    * workload starts its gated job with. */
  def startStreamJsonGatedUnified(spark: org.apache.spark.sql.SparkSession,
                                  json: String,
                                  extra: Map[String, OpSpec] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startStreamJson(spark, json, extra)

  /** Start a streaming chain over the caller's frame: streamable steps,
    * then a streaming sink step ([[streamSinkOps]]) last. Every step
    * validates before the query starts.
    *
    * A chain carrying a STORE-FAILURES contract gate
    * (`expect_condition` with `quarantine_path`) runs as ONE query
    * through the unified gated runner, and its sink must be
    * `write_stream_parquet`: the runner owns the survivors write.
    * The runner feeds every quarantine gate AND the survivors from the
    * SAME materialized micro-batch, so a batch-boundary-sensitive
    * stateful step (e.g. `first_seen_flags_watermarked`) ahead of a
    * gate flags each row exactly once: the row is a survivor or
    * quarantined, never lost and never both.
    *
    * Gated chain layout, validated eagerly: steps BEFORE the first
    * gate run once in the streaming plan (stateful steps allowed —
    * that is the point); the first gate and EVERYTHING after it
    * re-apply per micro-batch, so from the first gate on only
    * stateless row-deterministic steps are legal ([[BatchSensitive]]
    * entries rejected by name).
    *
    * Gated writes: the survivors overwrite `<path>/batch=<id>` first,
    * and that one job counts each gate's violations (a
    * `Dataset.observe` at the gate's position); then each gate that
    * quarantined rows overwrites `<quarantine_path>/gate=<name>/batch=<id>`,
    * and a gate that quarantined none writes nothing (its batch table,
    * if an earlier attempt left one, is deleted). BOTH roots are
    * replay-idempotent (a replayed micro-batch rewrites its own
    * tables, never double-appends), so reading either root as parquet
    * is end-to-end exactly-once with the batch id as a partition
    * column. The micro-batch is persisted for the duration of its
    * writes: every gate split and the survivors write observe one
    * pinned set of flagged rows. */
  def startStream(src: DataFrame, steps: Seq[Step],
                  extra: Map[String, OpSpec] = Map.empty)
      : org.apache.spark.sql.streaming.StreamingQuery =
    compileStream(expandIncludes(steps), extra)(src)

  /** [[startStream]]'s compile over an expanded chain ending in its
    * sink step. */
  private def compileStream(expanded: Seq[Step], extra: Map[String, OpSpec])
      : DataFrame => org.apache.spark.sql.streaming.StreamingQuery = {
    require(expanded.nonEmpty, "streaming chain needs a sink step")
    val (chain, sink) = (expanded.init, expanded.last)
    val kind = lookup(streamSinkOps, "last", "streaming sink", sink)
    val p = new Params(sink.op, sink.params)
    if (chain.exists(isGate)) {
      require(sink.op == "write_stream_parquet",
        "gated streaming config: sink must be write_stream_parquet " +
          "(the unified runner owns the survivors write); got " +
          s"'${sink.op}'")
      compileGated(chain, extra, p.str("path"), p.str("checkpoint"))
    } else {
      val f = fromStepsStreaming(chain, extra)
      val start = kind match {
        case NativeSink(compile) => compile(p)
        case BatchSink(compile) =>
          startBatches(p.str("checkpoint"), compile(p))
      }
      df => start(f(df))
    }
  }

  /** Start a query that hands each micro-batch and its id to `body`
    * under `checkpoint` — the one `foreachBatch` of the engine, shared
    * by the [[BatchSink]]s and the unified gated runner. */
  private def startBatches(checkpoint: String,
                           body: (DataFrame, Long) => Unit)
      : DataFrame => org.apache.spark.sql.streaming.StreamingQuery =
    df => df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) => body(batch, id) }
      .start()

  /** A store-failures contract gate: the step the unified runner
    * splits each micro-batch on. */
  private def isGate(s: Step): Boolean =
    s.op == "expect_condition" && s.params.contains("quarantine_path")

  /** The unified gated runner ([[startStream]]) over a chain with a
    * gate: every step validates here, and the returned function starts
    * the query on a source frame, writing the survivors under
    * `sinkPath`. */
  private def compileGated(expanded: Seq[Step],
                           extra: Map[String, OpSpec], sinkPath: String,
                           checkpoint: String)
      : DataFrame => org.apache.spark.sql.streaming.StreamingQuery = {
    streamingValidate(expanded, extra)
    val registry = builtinOps ++ extra
    val firstGate = expanded.indexWhere(isGate)
    val (pre, post) = expanded.splitAt(firstGate)
    val badPost = post.filterNot(isGate).map(_.op).distinct
      .filter(streamingOf(extra, _).isInstanceOf[BatchSensitive])
    require(badPost.isEmpty,
      "gated streaming config: batch-boundary-sensitive step(s) " +
        s"${badPost.sorted.mkString(", ")} after the first quarantine " +
        "gate — stateful steps must precede every gate (they run " +
        "once in the streaming plan; gates and later steps re-apply " +
        "per materialized micro-batch)")
    val prefix = compileAll(registry, pre)
    // compile the suffix eagerly: gate splits + stateless transforms
    val suffix: Seq[Either[(String, Column), DataFrame => DataFrame]] =
      post.map { s =>
        if (isGate(s)) {
          val spec = registry("expect_condition")
          checkParams("pipeline op", s, spec.required, spec.optional)
          val p = new Params(s.op, s.params)
          val cond = parseEagerly(p.str("condition"))
          Left((quarantineTarget(p, "expect_condition").get, cond))
        } else Right(compileStep(registry, s))
      }
    val start = startBatches(checkpoint, { (batch, id) =>
        val pinned = batch.persist()
        try {
          // survivors first: the same job counts every gate's
          // violations (an observation at the gate's position), so
          // only gates that quarantined rows cost a write afterwards
          var cur: DataFrame = pinned
          val gates = Seq.newBuilder[(String, DataFrame,
            org.apache.spark.sql.Observation)]
          suffix.zipWithIndex.foreach {
            case (Left((dir, cond)), i) =>
              val ok = coalesce(cond, lit(false))
              val seen = new org.apache.spark.sql.Observation(
                s"graft_gate_${id}_$i")
              gates += ((dir, cur.filter(!ok), seen))
              cur = cur.observe(seen, count(when(!ok, lit(1)))
                .as("violations")).filter(ok)
            case (Right(f), _) => cur = f(cur)
          }
          writeBatchTable(cur, sinkPath, id)
          // counts arrive through the listener bus; a count that does
          // not arrive in time, or arrives empty (a later step pruned
          // the gate's subtree from the plan), leaves the gate unknown,
          // and an unknown gate writes its violation set
          val deadline = scala.concurrent.duration.Duration(10, "s").fromNow
          gates.result().foreach { case (dir, bad, seen) =>
            val violations = scala.util.Try(scala.concurrent.Await
              .result(seen.future, deadline.timeLeft).getLong(0))
            if (violations.toOption.contains(0L))
              clearBatchTable(batch.sparkSession, dir, id)
            else writeBatchTable(bad, dir, id)
          }
        } finally {
          pinned.unpersist()
          ()
        }
      })
    src => start(prefix(src))
  }

  /** A micro-batch's table under a per-batch root: `dir`/batch=<id>,
    * keyed by the micro-batch id — the canonical exactly-once
    * `foreachBatch` layout (a REPLAYED batch overwrites its own table
    * instead of double-appending). Reading `dir` as parquet yields
    * every row with the batch id as a partition column. */
  private def batchPath(dir: String, id: Long): String = s"$dir/batch=$id"

  /** One micro-batch's table under a gated runner root (the survivors'
    * `sinkPath` or a gate's quarantine directory), overwritten at
    * [[batchPath]]. */
  private[graft] def writeBatchTable(batch: DataFrame, dir: String,
                                     id: Long): Unit =
    batch.write.mode("overwrite").parquet(batchPath(dir, id))

  /** The empty-gate side of [[writeBatchTable]]: a gate that
    * quarantined nothing in micro-batch `id` writes no table (no job,
    * no empty file per gate per trigger); a table an earlier attempt
    * of the same batch id left there is deleted, so the batch's
    * quarantine state is still this attempt's, as an overwrite
    * would leave it. */
  private[graft] def clearBatchTable(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      id: Long): Unit = {
    val path = new org.apache.hadoop.fs.Path(batchPath(dir, id))
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path)) fs.delete(path, true)
    ()
  }

  /** Config composition: an `include` step splices another config
    * file's steps in place — the modularity primitive that lets a
    * team ship one reviewed gate file (contracts, dedup recipe) and
    * reference it from every job. Resolution is EAGER and recursive
    * at config-compile time (the file's text goes through [[parse]],
    * whatever its extension); a cycle or a >16-deep chain errors
    * naming the include chain; an unreadable file errors with its
    * path. The expanded step list is what source/sink detection, the
    * streaming whitelist, and registry validation all see — an
    * included file may therefore contribute any step kind, and a
    * non-streamable step arriving via include is still rejected by
    * name. */
  private def expandIncludes(steps: Seq[Step],
                             stack: List[String] = Nil): Seq[Step] =
    steps.flatMap {
      case s if s.op == "include" =>
        checkParams("pipeline op", s, Seq("path"), Seq())
        val raw = s.params("path") match {
          case p: String => p
          case other => throw new IllegalArgumentException(
            s"pipeline op 'include': param 'path' must be a string, " +
              s"got $other")
        }
        // includes resolve through the Hadoop FileSystem API like
        // every data-path step, so an hdfs://, s3a://, or file://
        // include works identically; the fs-qualified URI is the
        // canonical id for cycle detection (meaningful for remote
        // schemes where File.getCanonicalPath is not)
        val hadoopConf = org.apache.spark.sql.SparkSession
          .getActiveSession
          .map(_.sessionState.newHadoopConf())
          .getOrElse(new org.apache.hadoop.conf.Configuration())
        val hPath = new org.apache.hadoop.fs.Path(raw)
        val fs = hPath.getFileSystem(hadoopConf)
        val canon = fs.makeQualified(hPath).toString
        require(!stack.contains(canon),
          "pipeline op 'include': cycle — " +
            (canon :: stack).reverse.mkString(" -> "))
        require(stack.size < 16,
          "pipeline op 'include': chain deeper than 16 — " +
            (canon :: stack).reverse.mkString(" -> "))
        val text =
          try {
            val in = fs.open(hPath)
            try new String(in.readAllBytes(), "UTF-8")
            finally in.close()
          } catch {
            case e: java.io.IOException =>
              throw new IllegalArgumentException(
                s"pipeline op 'include': cannot read '$raw' " +
                  s"(resolved via Hadoop FS as '$canon'): " +
                  e.getMessage, e)
          }
        expandIncludes(parse(text), canon :: stack)
      case s => Seq(s)
    }

  /** The param-set check every step kind shares — registry
    * operators, sources, sinks and includes: unknown and
    * missing-required params throw at config time, never
    * mid-pipeline, naming the allowed set. */
  private def checkParams(kind: String, s: Step,
                          required: Iterable[String],
                          optional: Iterable[String]): Unit = {
    val allowed = (required ++ optional).toSet
    val unknown = s.params.keySet -- allowed
    require(unknown.isEmpty,
      s"$kind '${s.op}': unknown params " +
        s"${unknown.toSeq.sorted.mkString(", ")}; allowed: " +
        allowed.toSeq.sorted.mkString(", "))
    val missing = required.toSet -- s.params.keySet
    require(missing.isEmpty,
      s"$kind '${s.op}': missing required params " +
        missing.toSeq.sorted.mkString(", "))
  }

  /** A source or sink step's registry body, its params checked. */
  private def lookup[F](registry: Map[String, (Seq[String], Seq[String], F)],
                        position: String, kind: String, s: Step): F = {
    val (req, opt, body) = registry.getOrElse(s.op,
      throw new IllegalArgumentException(
        s"$position step must be a $kind step; '${s.op}' is not one " +
          "of " + registry.keys.toSeq.sorted.mkString(", ")))
    checkParams(kind, s, req, opt)
    body
  }

  /** The batch compile behind every run entry point: includes expand
    * once, the source (first step) and — for a job — the sink (last
    * step) are looked up and param-checked once, and every transform
    * between compiles before the source is read, so a config error
    * beats an I/O error. Returns the frame builder and the sink
    * write; `tap` sees every step's output frame (the source's is
    * step 0). */
  private def compileBatch(steps: Seq[Step], job: Boolean,
                           extra: Map[String, OpSpec],
                           tap: (Int, String, DataFrame) => DataFrame =
                             (_, _, df) => df)
      : (org.apache.spark.sql.SparkSession => DataFrame,
         DataFrame => Unit) = {
    val expanded = expandIncludes(steps)
    val write: DataFrame => Unit =
      if (job) {
        require(expanded.size >= 2,
          "job config needs a source step and a sink step")
        val sink = expanded.last
        val body = lookup(sinkOps, "last", "sink", sink)
        df => body(df, new Params(sink.op, sink.params))
      } else {
        require(expanded.nonEmpty,
          "pipeline config needs at least a source step")
        _ => ()
      }
    val source = expanded.head
    val read = lookup(sourceOps, "first", "source", source)
    val registry = builtinOps ++ extra
    val chain = expanded.slice(1, expanded.size - (if (job) 1 else 0))
      .map(s => (s.op, compileStep(registry, s)))
    val frame = (spark: org.apache.spark.sql.SparkSession) =>
      chain.zipWithIndex.foldLeft(tap(0, source.op,
        read(spark, new Params(source.op, source.params)))) {
        case (df, ((op, f), i)) => tap(i + 1, op, f(df))
      }
    (frame, write)
  }

  /** Frames a step persists for the rest of a job run: a step whose
    * input has several readers ([[JobScope.persist]]) keeps it at
    * MEMORY_AND_DISK — lineage kept, so a lost block recomputes
    * instead of failing the job — and the job runners
    * ([[runJobSteps]], [[runJobStepsAudited]]) unpersist everything
    * once the sink returns or throws. Outside a job run (entry points
    * that hand back a frame, whose actions happen later) nothing is
    * persisted and the plan stays lazy. */
  private object JobScope {
    private val held =
      new ThreadLocal[Option[scala.collection.mutable.Buffer[DataFrame]]] {
        override def initialValue() = None
      }

    def run[T](body: => T): T = {
      val outer = held.get
      val mine = scala.collection.mutable.Buffer.empty[DataFrame]
      held.set(Some(mine))
      try body
      finally {
        held.set(outer)
        mine.foreach(_.unpersist(blocking = false))
      }
    }

    /** Persist `df` for the running job; a no-op outside one, or when
      * its plan is already cached (that cache is not ours to
      * release). */
    def persist(df: DataFrame): Unit = held.get match {
      case Some(mine) if df.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE =>
        mine += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      case _ =>
    }
  }

  /** Run a COMPLETE job config: first step a source, last step a
    * sink, operators between. The whole config validates before the
    * source is touched. */
  def runJobSteps(spark: org.apache.spark.sql.SparkSession,
                  steps: Seq[Step],
                  extra: Map[String, OpSpec] = Map.empty): Unit = {
    val (frame, write) = compileBatch(steps, job = true, extra)
    JobScope.run(write(frame(spark)))
  }

  /** Self-contained job config text (source → ops → sink,
    * [[parse]]) → executed. */
  def runJobJson(spark: org.apache.spark.sql.SparkSession, json: String,
                 extra: Map[String, OpSpec] = Map.empty): Unit =
    runJobSteps(spark, parse(json), extra)

  /** [[runJobSteps]] with a per-step row-count AUDIT: every step's
    * output frame carries a `CollectMetrics` observation
    * (`Dataset.observe` — the counts ride the sink's own pass, ZERO
    * extra scans or actions), and the returned frame is the run
    * report: one row per step, (step, op, n_rows) — rows LEAVING
    * that step. The lineage record a reviewed training-data recipe
    * wants next to its output ("dedup dropped 12%, the quality gate
    * 30%") at no cost beyond the job itself.
    *
    * Works with any sink that materializes the frame (all the
    * registry sinks do). A step that internally runs a preparatory
    * action (e.g. filter_by_quantile's percentile fit) completes the
    * upstream observations during that pass — same plan, same
    * counts, just earlier. Batch-only: streaming row counts belong
    * to the progress listener, not a one-shot report. */
  def runJobStepsAudited(spark: org.apache.spark.sql.SparkSession,
                         steps: Seq[Step],
                         extra: Map[String, OpSpec] = Map.empty)
      : DataFrame = {
    val taps = scala.collection.mutable.Buffer
      .empty[(Int, String, org.apache.spark.sql.Observation)]
    def tap(i: Int, op: String, frame: DataFrame): DataFrame = {
      val obs =
        new org.apache.spark.sql.Observation(s"graft_audit_${i}_$op")
      taps += ((i, op, obs))
      frame.observe(obs, count(lit(1)).as("n_rows"))
    }
    val (frame, write) = compileBatch(steps, job = true, extra, tap)
    JobScope.run(write(frame(spark)))
    val report = taps.toSeq.map { case (i, op, obs) =>
      (i, op, obs.get("n_rows").asInstanceOf[Long])
    }
    import spark.implicits._
    report.toDF("step", "op", "n_rows")
  }

  /** Self-contained job config text → executed with the per-step
    * row-count report returned ([[runJobStepsAudited]]). */
  def runJobJsonAudited(spark: org.apache.spark.sql.SparkSession,
                        json: String,
                        extra: Map[String, OpSpec] = Map.empty)
      : DataFrame =
    runJobStepsAudited(spark, parse(json), extra)

  /** Run a config whose FIRST step is a source (`read_parquet`,
    * `read_table`, `read_orc`, `read_warc_gz`) and whose remaining
    * steps are registry operators — the fully self-contained form: a
    * JSON/YAML file IS the job. */
  def runSteps(spark: org.apache.spark.sql.SparkSession,
               steps: Seq[Step],
               extra: Map[String, OpSpec] = Map.empty): DataFrame =
    compileBatch(steps, job = false, extra)._1(spark)

  /** Self-contained config text ([[parse]]) → result frame. */
  def runJson(spark: org.apache.spark.sql.SparkSession, json: String,
              extra: Map[String, OpSpec] = Map.empty): DataFrame =
    runSteps(spark, parse(json), extra)

  /** Compile a step list for a STREAMING DataFrame: the same
    * registry bodies as [[fromSteps]] (a config gates the stream with
    * the exact transforms its batch twin runs — parity spec-pinned on
    * MemoryStream), but steps whose [[OpSpec.streaming]] is
    * [[BatchOnly]] are rejected EAGERLY by name, before any stream
    * starts. */
  def fromStepsStreaming(steps: Seq[Step],
                         extra: Map[String, OpSpec] = Map.empty)
      : DataFrame => DataFrame = {
    val expanded = expandIncludes(steps)
    streamingValidate(expanded, extra)
    // quarantine mode needs a violation WRITE per micro-batch — only
    // the unified gated runner carries it; reject by PARAM here (the
    // step name itself stays stream-safe in abort mode)
    require(!expanded.exists(isGate),
      "streaming step 'expect_condition': quarantine_path needs the " +
        "unified gated runner — start the whole job with " +
        "startStreamSteps / startStreamJson, or the chain and its " +
        "write_stream_parquet sink over your own source with startStream")
    compileAll(builtinOps ++ extra, expanded)
  }

  /** An op's streaming contract. A builtin name keeps its builtin
    * declaration even when `extra` replaces its body (a re-registration
    * that wraps the body, such as a tracer, declares nothing new); any
    * other `extra` entry declares its own. */
  private def streamingOf(extra: Map[String, OpSpec],
                          op: String): Streaming =
    builtinOps.get(op).orElse(extra.get(op)).fold[Streaming](BatchOnly)(
      _.streaming)

  /** Whitelist + determinism checks shared by the streaming
    * compiles. */
  private def streamingValidate(expanded: Seq[Step],
                                extra: Map[String, OpSpec]): Unit = {
    val bad = expanded.map(_.op).distinct
      .filter(streamingOf(extra, _) == BatchOnly)
    require(bad.isEmpty,
      s"steps not streamable: ${bad.sorted.mkString(", ")}; " +
        "streamable steps: " + (builtinOps ++ extra).keys
          .filter(streamingOf(extra, _) != BatchOnly).toSeq.sorted
          .mkString(", "))
    expanded.foreach { s =>
      streamingOf(extra, s.op).sql.foreach(k => s.params.get(k).foreach {
        case sql: String => requireDeterministic(s.op, sql)
        case _ => () // non-string value: fromSteps rejects it loudly
      })
    }
  }

  /** Streaming-config guard: reject non-deterministic SQL in a step's
    * declared SQL params EAGERLY, before any stream starts.
    * Under micro-batch retries a `rand()`/`uuid()` projection emits
    * DIFFERENT rows on the retry attempt, so an append sink can
    * record divergent output — breaking the batch==stream parity the
    * streamable whitelist promises. Checked by resolution, not
    * string-matching: every function in the parsed tree is looked up
    * in Catalyst's builtin registry and its `deterministic` flag
    * inspected (a function that fails to resolve here is left for
    * the normal analysis error downstream). */
  private def requireDeterministic(op: String, sql: String): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedFunction}
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sql)
    val bad = parsed.collect {
      case f: UnresolvedFunction =>
        val name = f.nameParts.last
        scala.util.Try(FunctionRegistry.builtin.lookupFunction(
            FunctionIdentifier(name.toLowerCase(java.util.Locale.ROOT)),
            f.arguments)).toOption
          .filterNot(_.deterministic).map(_ => name)
    }.flatten.distinct
    require(bad.isEmpty,
      s"streaming step '$op': non-deterministic function(s) " +
        s"${bad.sorted.mkString(", ")} in '$sql' — micro-batch " +
        "retries would emit divergent rows; derive randomness from " +
        "content instead (e.g. split_by_hash / sample_fraction)")
  }

  /** Compile a step list against the registry (builtins plus `extra`;
    * extra entries override builtin names — the `register_function`
    * precedence). Every step validates HERE: unknown op names,
    * unknown param keys, missing required params, and malformed
    * values throw before the returned function ever sees a
    * DataFrame. */
  def fromSteps(steps: Seq[Step],
                extra: Map[String, OpSpec] = Map.empty)
      : DataFrame => DataFrame =
    compileAll(builtinOps ++ extra, expandIncludes(steps))

  /** Compile expanded steps in config order into one transform. */
  private def compileAll(registry: Map[String, OpSpec],
                         expanded: Seq[Step]): DataFrame => DataFrame = {
    val compiled = expanded.map(compileStep(registry, _))
    df => compiled.foldLeft(df)((d, f) => f(d))
  }

  /** Compile ONE step against a registry: param-set validation (a
    * typo throws at config time, naming the allowed set) + the
    * spec's compile. */
  private def compileStep(registry: Map[String, OpSpec],
                          s: Step): DataFrame => DataFrame = {
    val spec = registry.getOrElse(s.op,
      throw new IllegalArgumentException(
        s"unknown pipeline operator '${s.op}'; available: " +
          registry.keys.toSeq.sorted.mkString(", ")))
    checkParams("pipeline op", s, spec.required, spec.optional)
    spec.compile(new Params(s.op, s.params))
  }

  /** Config text ([[parse]]) → compiled pipeline. */
  def fromJson(json: String,
               extra: Map[String, OpSpec] = Map.empty)
      : DataFrame => DataFrame =
    fromSteps(parse(json), extra)

  /** Config text → step list: the one place the format is decided.
    * JSON when the first non-blank character is `[` or `{`, YAML (the
    * reference README's own example format) otherwise. Either
    * format holds a top-level step array or `{"steps": [...]}`; each
    * step is `{"op": "...", "params": {...}}` (params optional). */
  def parse(text: String): Seq[Step] = {
    val json = text.dropWhile(_.isWhitespace).headOption
      .exists(c => c == '[' || c == '{')
    val root =
      (if (json) new ObjectMapper() else new ObjectMapper(new YAMLFactory()))
        .readTree(text)
    val arr =
      if (root.isArray) root
      else if (root.isObject && root.has("steps") &&
        root.get("steps").isArray) root.get("steps")
      else throw new IllegalArgumentException(
        "pipeline config must be a step array or {\"steps\": [...]}")
    arr.elements().asScala.map { n =>
      require(n.isObject && n.has("op") && n.get("op").isTextual,
        s"each pipeline step needs a string 'op' field; got $n")
      val params =
        if (!n.has("params")) Map.empty[String, Any]
        else {
          val pn = n.get("params")
          require(pn.isObject,
            s"step '${n.get("op").asText}': 'params' must be an object")
          pn.properties().asScala
            .map(e => e.getKey -> toScala(e.getValue)).toMap
        }
      Step(n.get("op").asText, params)
    }.toSeq
  }

  /** DDL schema string → StructType, with the config-shaped error. */
  private def parseDdl(ddl: String): org.apache.spark.sql.types.StructType =
    try org.apache.spark.sql.types.StructType.fromDDL(ddl)
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"malformed 'schema' DDL '$ddl': ${e.getMessage}", e)
    }

  /** Centroid persistence for the config ANN pair: (cell, vec) rows,
    * one per centroid — bounded by nlist, one file. An empty-corpus
    * build writes an EMPTY table (never a missing one), so the probe
    * step's compile-time load distinguishes "empty corpus" (legal:
    * empty result) from "no such store" (config error). */
  private def writeCentroids(spark: org.apache.spark.sql.SparkSession,
                             path: String,
                             centroids: Seq[Seq[Double]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "vec").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  private def readCentroids(spark: org.apache.spark.sql.SparkSession,
                            path: String): Seq[Seq[Double]] =
    spark.read.parquet(path).orderBy(col("cell")).collect()
      .map(r => r.getSeq[Double](r.fieldIndex("vec")).toSeq).toSeq

  /** Resolve a contract step's quarantine target: store-failures
    * mode needs an explicit, path-safe `name` (it becomes the
    * `gate=<name>` directory under the quarantine path, so re-runs
    * overwrite their own gate's table and distinct gates coexist).
    * None when the step runs in the default abort mode. */
  private def quarantineTarget(p: Params, op: String): Option[String] =
    if (!p.has("quarantine_path")) None
    else {
      val base = p.str("quarantine_path")
      require(p.has("name"),
        s"pipeline op '$op': quarantine_path requires an explicit " +
          "'name' (it names the gate=<name> quarantine directory)")
      val tag = p.str("name")
      require(tag.matches("[A-Za-z0-9_-]+"),
        s"pipeline op '$op': quarantine gate name '$tag' must be " +
          "path-safe ([A-Za-z0-9_-]+)")
      Some(s"$base/gate=$tag")
    }

  /** The set-op steps' optional loaded-side projection, compile-parsed
    * so a typo throws at config time. */
  private def rightExprs(p: Params): Option[Seq[Column]] =
    if (p.has("right_exprs"))
      Some(p.strs("right_exprs").map(parseEagerly))
    else None

  private def shapeSide(df: DataFrame,
                        exprs: Option[Seq[Column]]): DataFrame =
    exprs.fold(df)(es => df.select(es: _*))

  /** The join-family steps' optional loaded-side row filter,
    * compile-parsed so a typo throws at config time. */
  private def sideFilter(p: Params): Option[String] = {
    val filt =
      if (p.has("right_filter")) Some(p.str("right_filter")) else None
    filt.foreach(parseEagerly)
    filt
  }

  /** Load the path-named side of a join-family step, applying the
    * optional filter and ordered renames. Renames are loud on a
    * missing column — `withColumnRenamed` alone silently no-ops,
    * which would surface later as an AMBIGUOUS_REFERENCE or a wrong
    * join key instead of naming the config mistake.
    *
    * TIMESTAMP_NTZ columns normalize to session-zone timestamps the
    * way the `read_table` source does ([[graft.sources.Sources]]):
    * the as-of/range steps compare this side's ts against the frame
    * in flight, and a parquet file written with
    * isAdjustedToUTC=false would otherwise type-mismatch (or
    * silently shift) against the normalized left side. */
  private def loadSide(df: DataFrame, path: String,
                       filterSql: Option[String],
                       renames: Seq[(String, String)]): DataFrame = {
    val raw = df.sparkSession.read.parquet(path)
    val base = raw.schema.fields.collect {
      case f if f.dataType ==
        org.apache.spark.sql.types.TimestampNTZType => f.name
    }.foldLeft(raw)((d, c) =>
      d.withColumn(c, col(c).cast("timestamp")))
    val filtered = filterSql.map(s => base.filter(expr(s))).getOrElse(base)
    renames.foldLeft(filtered) { case (d, (from, to)) =>
      require(d.columns.contains(from),
        s"right_renames: no column '$from' in $path " +
          s"(have: ${d.columns.mkString(", ")})")
      d.withColumnRenamed(from, to)
    }
  }

  /** `expr()` with the parse forced NOW: the unified Column surface
    * defers SQL parsing to plan attachment, which would turn a config
    * typo into a mid-pipeline failure instead of a compile-time one. */
  private def parseEagerly(sql: String): Column = {
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sql) // throws ParseException on malformed input
    expr(sql)
  }

  private def toScala(n: JsonNode): Any =
    if (n.isTextual) n.asText
    else if (n.isIntegralNumber) n.asLong
    else if (n.isNumber) n.asDouble
    else if (n.isBoolean) n.asBoolean
    else if (n.isArray) n.elements().asScala.map(toScala).toSeq
    else if (n.isObject)
      n.properties().asScala.map(e => e.getKey -> toScala(e.getValue))
        .toMap
    else null
}
