package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.{GzipBytes, PslRules}

import graft.Probe.Def
import graft.operators.{Curation, Dedup, Events, UrlOps}
import graft.sources.{Layout, Warc}

/** Scale probes of the time-series, fuzzy-pairing, dataset-layout and
  * ingest operators, run through [[Probe]]. */
object DataProbes {
  /** The time-series operators and the blocked fuzzy pairings
    * (BASELINE.md "Time-series gap-fill / rolling anomalies / fuzzy
    * pairs", "Transition matrix / decayed activity / Jaro-Winkler pairs",
    * "SCD2 / attribution scale behavior").
    *   - Events are replicated with injective user_id / event_id offsets
    *     and UNCHANGED timestamps: every replica user carries the exact
    *     series shape of an original user, so grid volume, anomaly,
    *     interval, credited-pair, transition-mass and user counts are all
    *     exactly ∝ R while per-user window sizes stay constant — the
    *     property that makes these operators ~linear (keyed work per user,
    *     never cross-user).
    *   - The fuzzy inventory is the distinct part-name dictionary with a
    *     fixed-width per-replica suffix on the last token: it relocates
    *     each replica into its own disjoint block set while a shared
    *     suffix never changes Levenshtein, and the fixed width keeps the
    *     Jaro-Winkler scores replicating exactly — pairs are exactly
    *     ∝ R. */
  val events = Def("events", Seq("1", "4", "16")) { r =>
    val ev = r.table("events")
    val ec = r.replicas(r.n)(k => ev.select(
        (col("event_id") + k * 100000000L).as("event_id"), col("ts"),
        (col("user_id") + k * 1000000L).as("user_id"),
        col("event_type"), col("value")))
      .localCheckpoint(true)
    r.timed("gapfill")(Events.gapFill(ec).count())(n =>
      Seq("events" -> ec.count(), "grid" -> n))
    r.timed("anomalies")(Events.rollingAnomalies(ec).count())(n =>
      Seq("flagged" -> n))
    r.timed("scd2")(Events.scd2(ec, "user_id", "event_type").count())(n =>
      Seq("intervals" -> n))
    r.timed("attribution")(Events.attributeConversions(ec, "purchase", 21600L,
      "linear").agg(sum(col("n_conversions"))).first().getLong(0))(n =>
      Seq("credited" -> n))
    // cells stay ≤ |types|²; the MASS per cell is the replica-linear
    // quantity, at ~flat time per event
    r.timed("transitions")(Events.transitionMatrix(ec)
      .agg(sum(col("n_pairs"))).first().getLong(0))(n => Seq("mass" -> n))
    // per-user top-k work, rows = users ∝ R
    r.timed("decayed")(Events.decayedActivity(ec).count())(n =>
      Seq("users" -> n))
    val names = r.table("part").groupBy(col("p_name"))
      .agg(min(col("p_partkey")).as("name_id"))
    val nc = r.replicas(r.n)(k => names.select(
        (col("name_id") + k * 10000000L).as("name_id"),
        concat(col("p_name"), lit(f"#$k%02d")).as("p_name")))
      .localCheckpoint(true)
    r.timed("edit_distance")(Dedup.editDistancePairs(nc, "name_id", "p_name",
      3).count())(n => Seq("names" -> nc.count(), "pairs" -> n))
    r.timed("jaro_winkler")(Dedup.jaroWinklerPairs(nc, "name_id", "p_name",
      0.85).count())(n => Seq("pairs" -> n))
  }

  /** The dataset-management operators (BASELINE.md "Snapshot diff /
    * per-group cap"). Documents are replicated with disjoint ids but the
    * ORIGINAL source column, so the group count stays constant while rows
    * per group grow ∝ R:
    *   - snapshotDiff: the "new" version drops ids ≡ 0 (mod 7) and edits
    *     texts ≡ 0 (mod 5), so churn is a FIXED FRACTION of the corpus —
    *     emitted rows must scale ∝ R while unchanged rows (the bulk)
    *     never materialize past the join;
    *   - capPerGroup: the output is n_groups × cap — CONSTANT in R; wall
    *     should grow ~linearly (one scan + the group shuffle whose rows
    *     the map-side WindowGroupLimit prunes to ≤ cap per group per
    *     input partition). */
  val layout = Def("layout", Seq("1", "4", "16")) { r =>
    val docs = r.table("documents")
      .select(col("doc_id"), col("text"), col("source"))
    val dc = r.replicas(r.n)(k => docs.withColumn("doc_id",
      col("doc_id") + k * 10000000L)).localCheckpoint(true)
    val neu = dc.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
    r.timed("snapshot_diff")(Layout.snapshotDiff(dc, neu, Seq("doc_id"),
      Seq("text")).count())(n => Seq("docs" -> dc.count(), "diff_rows" -> n))
    r.timed("cap")(Curation.capPerGroup(dc, Seq("source"), 50,
      Seq("doc_id")).count())(n => Seq("kept" -> n))
  }

  /** The CDC merge pair (BASELINE.md "CDC merge"): with the bucketed
    * layout sized so bucket volume stays constant (nBuckets = 8·R),
    * merging a FIXED delta rewrites ∝ the delta's bucket spread — flat
    * bytes in corpus size — while the unpartitioned merge rewrites the
    * whole snapshot and grows ∝ corpus. Bytes rewritten is the scale
    * metric: at toy sizes the walls are fixed job overheads; at 100 TB
    * the rewrite volume IS the cost. Corpus: orders replicated with
    * disjoint key ranges; the delta is 64 keys of the base replica (half
    * upserts, half deletes). Re-applying the delta is idempotent, so
    * the warm-up run leaves the timed run the same merge to do. */
  val cdc = Def("cdc", Seq("1", "4", "16")) { r =>
    val orders = r.table("orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val delta = orders.filter(col("o_orderkey") % 229 === 1).limit(64)
      .select(col("o_orderkey"), lit(10L).as("seq"),
        when(col("o_orderkey") % 2 === 0, "delete").otherwise("upsert")
          .as("op"),
        col("o_custkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 1).as("o_totalprice"))
      .localCheckpoint(true)
    val snap = r.replicas(r.n)(k => orders.withColumn("o_orderkey",
      col("o_orderkey") + k * 100000000L)).localCheckpoint(true)
    val nBuckets = 8 * r.n
    val (bPath, fPath) = (r.dir(s"bucketed_${r.n}"), r.dir(s"flat_${r.n}"))
    Layout.writeBucketedSnapshot(snap, bPath, Seq("o_orderkey"), nBuckets)
    snap.write.mode("overwrite").parquet(fPath)
    val mib = 1048576.0
    val snapMib = r.dirBytes(bPath) / mib
    r.timed("bucketed")(Layout.applyChangesBucketed(r.spark, bPath, delta,
        Seq("o_orderkey"), nBuckets)) { touched =>
      Seq("rows" -> snap.count(), "delta" -> delta.count(),
        "snap_mib" -> snapMib, "n_buckets" -> nBuckets,
        "touched" -> touched.size, "rewritten_mib" ->
          r.dirBytes(bPath, touched.map(b => s"__bucket=$b").toSet) / mib)
    }
    r.timed("full")(Layout.applyChanges(r.spark.read.parquet(fPath), delta,
        Seq("o_orderkey")).write.mode("overwrite").parquet(fPath + "_out"))(
      _ => Seq("rewritten_mib" -> r.dirBytes(fPath + "_out") / mib))
  }

  /** eTLD+1 with the FULL publicsuffix.org list (~9.5k rules) vs the
    * compact multi-label subset (BASELINE.md "Full-PSL hash walk"), over
    * `size` million synthetic hosts spanning every rule family (plain
    * .com, multi-label co.uk, wildcard *.kobe.jp, exception
    * city.kobe.jp, PRIVATE-section blogspot.com, deep subdomains, digit
    * tails), deterministic from the row id. `PslDomain`'s per-row cost
    * is O(host labels) hash lookups INDEPENDENT of rule-table size
    * (label-count-bucketed hash sets), so `full` should cost about what
    * `compact` (the subset as a rule table) costs — the opposite of a
    * `typedlit`-array scan, O(|rules|) per row, which is what the compact
    * column grammar `grammar` (`UrlOps.registeredDomain`) does with its
    * small list. */
  val psl = Def("psl", Seq("2", "8")) { r =>
    val real = PslRules.load(r.spark,
      "file:///usr/share/publicsuffix/public_suffix_list.dat")
    val compact = PslRules.parse(UrlOps.MultiLabelSuffixes)
    val id = col("id")
    val rows = (r.size.toDouble * 1000000L).toLong
    val hosts = r.spark.range(rows).select(concat(
        when(id % 11 === 0, lit("a.b.")).when(id % 7 === 0, lit("deep.sub."))
          .otherwise(lit("www.")),
        lit("h"), (id % 200000).cast("string"),
        when(id % 13 === 0, lit(".kobe.jp"))
          .when(id % 13 === 1, lit(".blogspot.com"))
          .when(id % 13 === 2, lit(".co.uk"))
          .when(id % 13 === 3, lit(".github.io"))
          .when(id % 13 === 4, lit(".com.au"))
          .when(id % 13 === 5, lit(".ck"))
          .otherwise(lit(".com"))).as("h"))
      .localCheckpoint(true)
    r.noop("full", "rows" -> rows, "rules" -> real.counts.toString)(
      hosts.select(UrlOps.registeredDomainPsl(col("h"), real)))
    r.noop("compact", "rules" -> compact.counts.toString)(
      hosts.select(UrlOps.registeredDomainPsl(col("h"), compact)))
    r.noop("grammar")(hosts.select(UrlOps.registeredDomain(col("h"))))
  }

  /** The streaming `.warc.gz` record reader (BASELINE.md ".warc.gz ingest
    * scale behavior") over an archive written into the scratch directory.
    * A size `N` is N MiB decompressed, one gzip member per ~1 MiB record
    * (the CommonCrawl layout); records/s must be FLAT in archive size
    * (streaming walk, no whole-archive materialization), and an archive
    * whose DECOMPRESSED size exceeds the ~2 GiB JVM array cap (2600)
    * must ingest — the batch gunzip-whole plan throws before its first
    * record. `single:N` is the OTHER layout: one gzip member holding the
    * whole archive (plain `gzip` of a `.warc`), 64 KiB records —
    * thousands per member. There the record walk's byte-shifting must be
    * linear in member size (head-offset buffer with amortized
    * compaction), not O(records × member); memory is the whole
    * decompressed member (inherent: CRC verification precedes the walk).
    * Payloads are a pseudo-random head (incompressible, keeps deflate
    * honest) plus a repetitive tail (keeps fixture writes fast) — overall
    * ~10:1 like crawled HTML+gzip. Check: the record count. */
  val warc = Def("warc", Seq("64", "256", "1024")) { r =>
    val single = r.size.startsWith("single:")
    val mib = r.size.stripPrefix("single:").toInt
    val (nRecs, recLen, headLen) =
      if (single) (mib * 16, 64 * 1024, 16 * 1024)
      else (mib, 1024 * 1024, 64 * 1024)
    val tail = ("the quick brown fox jumps over the lazy dog " * 64)
      .getBytes("US-ASCII")
    val rnd = new java.util.Random(42)
    def record(i: Int): Array[Byte] = {
      val body = new java.io.ByteArrayOutputStream(recLen + 64)
      val head = new Array[Byte](headLen)
      rnd.nextBytes(head)
      body.write(head)
      while (body.size() < recLen)
        body.write(tail, 0, math.min(tail.length, recLen - body.size()))
      (s"WARC/1.0\r\nWARC-Type: resource\r\n" +
        s"WARC-Target-URI: https://x.example.com/$i\r\n" +
        s"Content-Length: $recLen\r\n\r\n").getBytes("US-ASCII") ++
        body.toByteArray
    }
    val f = new java.io.File(r.dir(s"probe_$mib.warc.gz"))
    val file = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(f), 1 << 20)
    if (single) {
      // ONE member over all records, \r\n\r\n-separated
      val out = new java.util.zip.GZIPOutputStream(file, 1 << 16)
      (0 until nRecs).foreach { i =>
        if (i > 0) out.write("\r\n\r\n".getBytes("US-ASCII"))
        out.write(record(i))
      }
      out.close()
    } else {
      (0 until nRecs).foreach(i => file.write(GzipBytes.compute(record(i))))
      file.close()
    }
    val variant = if (single) "single_member" else "member_per_record"
    def records = Warc.readWarcGz(r.spark, Seq(f.getAbsolutePath))
      .selectExpr("count(*)").first().getLong(0)
    val n = try r.timed(variant)(records) { n =>
      Seq("decompressed_mib" -> mib, "compressed_mib" -> f.length / 1048576.0,
        "records" -> n, "records_per_s" -> n / r.wall(variant))
    } finally f.delete()
    require(n == nRecs, s"expected $nRecs records, got $n")
  }

  val all: Seq[Def] = Seq(events, layout, cdc, psl, warc)
}
