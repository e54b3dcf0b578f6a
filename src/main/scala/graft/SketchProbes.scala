package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.{HeavyHittersSketch, KmvDistinctSketch}

import graft.Probe.{Def, Run}
import graft.operators.{Stats, TextAnalysis}

/** Shuffle-volume probes of the sketch aggregates, run through [[Probe]]:
  * each pits a sketch against the exact formulation and reads the
  * harness's `shuffle_records` / `shuffle_bytes` for both. */
object SketchProbes {
  /** [[Probe.Run.suffixedDocs]] as word TRIGRAMS: the vocabulary is large
    * and grows ∝ replicas while per-row work stays fixed. */
  private def trigrams(r: Run): DataFrame = r.suffixedDocs(r.n)
    .select(col("doc_id"), TextAnalysis.shingles(col("text"), 3).as("toks"))
    .localCheckpoint(true)

  /** Heavy-hitter top-20 (BASELINE.md "Heavy-hitters shuffle"). The
    * Misra-Gries sketch's exchange is VOCABULARY-INDEPENDENT — one
    * ≤ capacity-counter summary per map partition, so `sketch` records
    * equal the map-partition count and its bytes stay bounded by
    * capacity × partitions — while the `explode` + groupBy exchange
    * carries one row per distinct token per map partition, ∝ vocabulary
    * even with map-side combine. At web scale vocabulary grows with the
    * corpus (names, ids, typos): a fixed-size exchange against one that
    * grows with the data. */
  val heavyHitters = Def("heavy_hitters", Seq("1", "4", "16")) { r =>
    val dc = trigrams(r)
    val vocab = dc.select(explode(col("toks")).as("t"))
      .agg(count_distinct(col("t"))).first().getLong(0)
    r.timed("explode")(dc.select(explode(col("toks")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(20).count())(
      _ => Seq("docs" -> dc.count(), "vocab" -> vocab))
    r.timed("sketch")(dc.groupBy()
        .agg(HeavyHittersSketch(col("toks"), 4096).as("hh"))
        .select(posexplode(col("hh"))).filter(col("pos") < 20).count())(
      _ => Seq("map_partitions" -> dc.rdd.getNumPartitions))
  }

  /** Distinct counting (BASELINE.md "KMV distinct shuffle"): the KMV
    * sketch's exchange is VOCABULARY-INDEPENDENT (≤ k = 1024 8-byte
    * hashes per map partition) while `count(distinct)`'s carries one row
    * per distinct key per map partition. Reports the estimate vs the
    * true count (~3% expected at k = 1024). */
  val kmv = Def("kmv", Seq("1", "4", "16")) { r =>
    val dc = trigrams(r)
    val vocab = r.timed("exact")(dc.select(explode(col("toks")).as("t"))
        .agg(count_distinct(col("t"))).first().getLong(0))(
      v => Seq("docs" -> dc.count(), "vocab" -> v))
    r.timed("kmv")(dc.groupBy().agg(KmvDistinctSketch(col("toks"), 1024)
        .as("kmv")).select(col("kmv.estimate")).first().getDouble(0))(
      est => Seq("estimate" -> est,
        "err_pct" -> math.abs(est - vocab) / vocab * 100))
  }

  /** COLUMN distinct counting (BASELINE.md "HLL register shuffle"), the
    * cardinality-shard companion of [[kmv]]: `Stats.approxDistinct`'s
    * exchange is bounded by the REGISTER count (≤ m = 4096 rows per map
    * partition, two longs each) regardless of cardinality, while
    * `count(distinct c)`'s carries one row per distinct value per map
    * partition. Corpus: document ids replicated with per-replica
    * offsets, so the distinct count grows linearly while the register
    * frame stays fixed. Estimate error ~1.6% expected at m = 4096. */
  val card = Def("card", Seq("1", "4", "16")) { r =>
    val docs = r.table("documents")
    // fixed map-partition count across scales (coalesce is narrow — no
    // shuffle of its own): the register exchange is bounded per MAP
    // PARTITION, so flatness only shows against a fixed layout
    val dc = r.replicas(r.n)(k => docs.select(
        (col("doc_id") + k * 10000000L).as("doc_id")))
      .coalesce(32).localCheckpoint(true)
    val truth = r.timed("exact")(dc.agg(count_distinct(col("doc_id")))
      .first().getLong(0))(d => Seq("rows" -> dc.count(), "distinct" -> d))
    r.timed("hll")(Stats.approxDistinct(dc, Seq("doc_id"))
        .select(col("estimate")).first().getDouble(0))(
      est => Seq("estimate" -> est,
        "err_pct" -> math.abs(est - truth) / truth * 100))
  }

  val all: Seq[Def] = Seq(heavyHitters, kmv, card)
}
