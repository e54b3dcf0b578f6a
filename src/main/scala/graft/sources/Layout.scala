package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints.TruncateOps

/** Multi-dimensional data layout: Z-order (Morton) clustering at write
  * time so selective multi-column predicates skip files and row groups.
  *
  * Range-partitioning by ONE column gives perfect pruning on that column
  * and none on any other; interleaving the bits of several columns into
  * one Morton key and range-partitioning by THAT bounds every listed
  * column's span within each file. Parquet keeps per-column min/max on
  * every file footer and row group, so a 2-D box predicate over a
  * z-ordered table reads only the files whose bounding boxes intersect
  * the box — at 100 TB the difference between scanning the table and
  * scanning a few percent of it (the layout trick of Delta/Iceberg
  * OPTIMIZE ZORDER, built from public Spark primitives).
  *
  * The key is pure integer bit arithmetic (shifts/masks — identical in
  * any engine, no float boundary) and the write is one range exchange;
  * clustering quality is asserted by measured per-file bounding boxes in
  * ScaleOpsSpec. */
object Layout {

  /** Rendezvous (highest-random-weight) shard assignment — the stable
    * sharding discipline for incrementally-maintained outputs (dedup
    * signature stores, search-index shards, embedding partitions):
    * key k goes to the shard s maximizing hash(k, s). Unlike
    * `hash(k) % n`, growing n to n+1 moves ONLY the keys whose new
    * argmax IS the new shard — an expected 1/(n+1) of the data —
    * instead of reshuffling (n−1)/n of it; at 100 TB that is the
    * difference between topping up one new shard and rewriting the
    * store (the Thaler-Ravishankar 1998 HRW construction, what Ceph's
    * CRUSH and cache rings build on).
    *
    * The per-shard score is the repo's standard externally-replicable
    * 48-bit hash (md5 hex-prefix — the [[zValue]]/winnow contract), so
    * assignments replicate in SQL; ties (2⁻⁴⁸ and only across the n
    * scores of one key) break to the LOWEST shard id via a (score, −s)
    * struct max. One codegen'd projection, zero shuffle, cost O(n)
    * hashes per row — n here is the output shard count (tens to
    * thousands), not the cluster size. Null key parts hash as the
    * usual concat_ws skip — coalesce upstream if null/absent must
    * stay distinct (the keySkewReport discipline). */
  def rendezvousShards(df: DataFrame, keyCols: Seq[String],
                       nShards: Int,
                       outCol: String = "shard"): DataFrame = {
    require(keyCols.nonEmpty, "rendezvousShards needs key columns")
    require(nShards >= 1, "nShards must be >= 1")
    val key = concat_ws("\u0000",
      keyCols.map(c => col(c).cast("string")): _*)
    val scored = transform(sequence(lit(0), lit(nShards - 1)), s =>
      struct(
        conv(substring(md5(concat(key, lit("#"), s.cast("string"))),
          1, 12), 16, 10).cast("long").as("score"),
        (-s).as("ns")))
    df.withColumn(outCol, (-array_max(scored).getField("ns")).cast("int"))
  }

  /** The Morton key: interleave the low `bits` bits of each column,
    * column j contributing bit i to output position `i·N + j` (lower
    * columns get the lower positions at each level). Inputs must be
    * non-negative and < 2^bits — out-of-range inputs would silently
    * alias distant keys, so cap `bits` per the data's range.
    *
    * Columns with very different ranges interleave unevenly: the wider
    * column's high bits dominate the ordering and the narrow column
    * clusters only weakly (measured in the verify drive: a 200-value ×
    * 10-value pair bounds the first dimension 6× and the second not at
    * all). For balanced pruning, pre-scale each column to a comparable
    * range (e.g. its range-bucket id) before interleaving — the
    * Delta/Iceberg OPTIMIZE ZORDER preprocessing. */
  def zValue(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty, "zValue needs at least one column")
    require(cols.size * bits <= 62,
      s"${cols.size} cols x $bits bits exceeds a signed long")
    val n = cols.size
    val terms = for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(
      shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Rewrite `df` z-order-clustered on `zCols` into `numFiles` parquet
    * files under `path`: one range exchange on the Morton key, a
    * per-file sort so row groups INSIDE a file cluster too, and the key
    * itself is dropped — the layout lives in the file/row-group min/max
    * stats, not in a column. */
  def zOrderWrite(df: DataFrame, zCols: Seq[String], path: String,
                  numFiles: Int, bits: Int = 16): Unit =
    df.withColumn("__z", zValue(zCols.map(col), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Write `df` with parquet BLOOM FILTERS on `bloomCols` — the
    * point-lookup complement to [[zOrderWrite]]'s range clustering:
    * min/max stats skip row groups for RANGE predicates on clustered
    * columns, while bloom filters skip them for EQUALITY predicates on
    * high-cardinality columns that no sort order helps (the id-lookup /
    * needle-in-100TB case). Spark's vectorized parquet reader consults
    * the filters automatically on `col = literal` pushdown; `fpp` and
    * `ndv` size each filter (parquet's split-block bloom,
    * ~1.2 bytes/value at 1% fpp). Footer-verified in SourcesSpec via
    * the parquet-hadoop API that ships with Spark. */
  def bloomFilteredWrite(df: DataFrame, bloomCols: Seq[String],
                         path: String, ndv: Long = 100000L,
                         fpp: Double = 0.01): Unit = {
    require(bloomCols.nonEmpty, "bloomFilteredWrite needs >= 1 column")
    val w = df.write.mode("overwrite")
    val configured = bloomCols.foldLeft(w) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
        .option(s"parquet.bloom.filter.fpp#$c", fpp.toString)
    }
    configured.parquet(path)
  }

  /** Compact a parquet directory's files toward `targetBytes` outputs —
    * the maintenance pass every streaming/incremental sink needs:
    * micro-batch and per-task writes accumulate thousands of small
    * files, and at 100 TB the scan's task-per-file scheduling plus
    * footer reads dominate long before the data does (the
    * Delta/Iceberg OPTIMIZE role, from public Spark primitives).
    *
    * The output file count derives from the LIVE byte total (one
    * driver-side file listing — bounded metadata), never a config:
    * ⌈Σbytes / targetBytes⌉ files. Without `sortCol` the rewrite is a
    * `coalesce` — narrow, zero-shuffle bin-packing of existing
    * partitions. With `sortCol` it is one range exchange that also
    * re-establishes clustering (re-tightening min/max pruning the way
    * [[zOrderWrite]] does at first write).
    *
    * Swap protocol: [[swapIn]] (the rewrite lands in a sibling temp
    * dir and renames in; a directory a crashed swap left parked is
    * restored first). Concurrent WRITERS to the directory are the
    * caller's exclusion to hold. Returns (files_before, files_after). */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = 128L << 20,
              sortCol: Option[String] = None): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def parquetFiles() = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    var before = 0
    swapIn(spark, path, "compact") { tmp =>
      val files = parquetFiles()
      require(files.nonEmpty, s"compact: no parquet files under $path")
      before = files.length
      val total = files.map(_.getLen).sum
      val nOut =
        math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
      val df = spark.read.parquet(path)
      val rewrite = sortCol match {
        case Some(c) =>
          df.repartitionByRange(nOut, col(c)).sortWithinPartitions(col(c))
        case None =>
          // coalesce is the zero-shuffle path, but it can only REDUCE
          // the scan's partition count — and a small-file scan packs
          // many files into few input partitions (maxPartitionBytes),
          // so when the scan under-partitions the target, fall back to
          // a round-robin shuffle (cheap by definition: the total is
          // small enough that more files were wanted)
          if (df.rdd.getNumPartitions >= nOut) df.coalesce(nOut)
          else df.repartition(nOut)
      }
      rewrite.write.mode("overwrite").parquet(tmp)
      true
    }
    (before, parquetFiles().length)
  }

  /** Rewrite the directory at `path` through a sibling temp dir and swap
    * the rewrite in by rename — the one swap behind [[compact]] and the
    * streaming snapshot and search-index merges. `produce` writes the
    * new version to the temp path it is handed, while `path` is still
    * readable, and returns whether it wrote one (false leaves `path`
    * as it is). The temp and parked dirs are `<path>__<tag>_tmp` and
    * `<path>__<tag>_old`.
    *
    * Visibility: the two-rename swap has a TRANSIENT window between
    * `rename(path, old)` and `rename(tmp, path)` in which `path` does
    * not exist — a concurrent reader in that window gets FileNotFound
    * and must retry; a reader outside it sees either the complete old
    * version or the complete new one, never a half-written directory
    * (HDFS renames are atomic; object-store renames are not). A failed
    * swap-in restores the original and throws.
    *
    * Crash healing: a driver crash inside that window leaves the
    * directory parked at `old`. On entry, if `path` is missing but
    * `old` exists, it is renamed back before `produce` runs — so a
    * restarted stream or a re-run compaction heals the park instead
    * of failing its first read. */
  private[graft] def swapIn(spark: org.apache.spark.sql.SparkSession,
                            path: String, tag: String)
                           (produce: String => Boolean): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      s"${p.getName}__${tag}_tmp")
    val old = new org.apache.hadoop.fs.Path(p.getParent,
      s"${p.getName}__${tag}_old")
    if (!fs.exists(p) && fs.exists(old) && !fs.rename(old, p))
      throw new IllegalStateException(
        s"$tag: crash recovery failed — could not restore $old")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (produce(tmp.toString)) {
      if (fs.exists(old)) fs.delete(old, true)
      if (!fs.rename(p, old)) throw new IllegalStateException(
        s"$tag: could not move $path aside — directory left untouched")
      if (!fs.rename(tmp, p)) {
        fs.rename(old, p) // restore; the rewrite stays in tmp for debugging
        throw new IllegalStateException(
          s"$tag: swap-in failed — original restored, rewrite at $tmp")
      }
      fs.delete(old, true)
    }
    ()
  }

  /** Snapshot diff between two versions of a keyed dataset: which rows
    * were added, removed, or changed (and in which columns) — the
    * dataset-versioning primitive behind "what moved between crawl N
    * and crawl N+1", audit trails for a training-mix freeze, and
    * incremental downstream refresh (only re-embed the changed docs).
    *
    * Scale shape: ONE key-partitioned full-outer join is the whole
    * cost; both sides pre-project to key + compared columns only, and
    * unchanged rows — the overwhelming majority between adjacent
    * snapshots — are filtered out BEFORE anything is emitted, so the
    * output is proportional to the churn, not the corpus. To diff wide
    * rows cheaply, pass a single precomputed fingerprint column (e.g.
    * `TextAnalysis.fingerprint`) as the compare set: the join then
    * carries one hash per side instead of the full payload.
    * Change detection is null-safe (`<=>`): null→value and value→null
    * are changes, null→null is not. Output: (keyCols..., status ∈
    * added|removed|changed, changed_cols — comma-joined in `compareCols`
    * order, empty for added/removed — and n_changed). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(compareCols.nonEmpty, "compareCols must be non-empty")
    val o = oldDf.select(keyCols.map(col) ++
      (lit(true).as("__old") +:
        compareCols.map(c => col(c).as(s"__o_$c"))): _*)
    val n = newDf.select(keyCols.map(col) ++
      (lit(true).as("__new") +:
        compareCols.map(c => col(c).as(s"__n_$c"))): _*)
    val j = o.join(n, keyCols, "full_outer")
    def diff(c: String): Column = !(col(s"__o_$c") <=> col(s"__n_$c"))
    val anyDiff = compareCols.map(diff).reduce(_ || _)
    val changed = col("status") === "changed"
    j.withColumn("status",
        when(col("__old").isNull, "added")
          .when(col("__new").isNull, "removed")
          .when(anyDiff, "changed"))
      .filter(col("status").isNotNull)
      .withColumn("changed_cols",
        when(changed, concat_ws(",",
          compareCols.map(c => when(diff(c), lit(c))): _*))
          .otherwise(lit("")))
      .withColumn("n_changed",
        when(changed, compareCols.map(c =>
            when(diff(c), lit(1)).otherwise(lit(0))).reduce(_ + _))
          .otherwise(lit(0)))
      .select(keyCols.map(col) ++ Seq(col("status"),
        col("changed_cols"), col("n_changed")): _*)
  }

  /** Apply a CDC changeset to a keyed snapshot — the MERGE/upsert
    * primitive that keeps a corpus snapshot current from incremental
    * crawl deltas without rewriting history by hand: the forward
    * companion of [[snapshotDiff]] (which derives a changeset) and of
    * `Events.scd2` (which keeps the history instead of the head).
    *
    * `changes` rows carry the snapshot's key and payload columns plus
    * a monotonically increasing sequence column (`seqCol` — commit
    * LSN, batch id, event time) and an op column (`opCol` ∈
    * upsert|delete, case-insensitive; anything else raises). Per key
    * the LATEST change wins (max `seqCol`; a seq tie between an
    * upsert and a delete resolves to the delete — the conservative
    * direction; equal-seq upsert/upsert ties are a data bug this
    * operator does not adjudicate, keep (key, seq) unique). Then:
    * deleted keys drop, upserted keys take the change's payload
    * (whether or not the key existed — insert and update are one op),
    * untouched snapshot rows pass through. Output columns ==
    * snapshot columns.
    *
    * Scale shape: the changeset reduces FIRST (one `max_by` aggregate
    * keyed by `keyCols`, partial map-side — cost ∝ changes, never the
    * corpus), and the snapshot is touched by exactly one LEFT ANTI
    * join against the reduced key set: with day-scale deltas against
    * a 100 TB snapshot that side broadcasts and the snapshot NEVER
    * shuffles — the plan is a scan + broadcast-anti + union with the
    * upserted rows. A changeset too big to broadcast degrades to one
    * key exchange per side, still never corpus×corpus. */
  def applyChanges(snapshot: DataFrame, changes: DataFrame,
                   keyCols: Seq[String], seqCol: String = "seq",
                   opCol: String = "op"): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val payloadCols =
      snapshot.columns.toSeq.filterNot(keyCols.contains)
    val missing = (keyCols ++ payloadCols ++ Seq(seqCol, opCol))
      .filterNot(changes.columns.contains)
    require(missing.isEmpty,
      s"applyChanges: changes is missing column(s) " +
        s"${missing.mkString(", ")} (needs the snapshot's key and " +
        s"payload columns plus '$seqCol' and '$opCol')")
    val opNorm = lower(col(opCol))
    // unknown op values fail LOUDLY during the changeset reduction
    // (every change row evaluates this rank) instead of silently
    // passing or dropping rows
    val opRank = when(opNorm === "delete", lit(1))
      .when(opNorm === "upsert", lit(0))
      .otherwise(raise_error(concat(
        lit("applyChanges: unknown op '"), col(opCol),
        lit(s"' in '$opCol' (expected upsert|delete)"))).cast("int"))
    val winner = changes
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(
        struct((opNorm.as("__op") +: payloadCols.map(col)): _*),
        struct(col(seqCol), opRank)).as("__w"))
    val latest = winner.select(keyCols.map(col) :+
      col("__w.__op").as("__op") :+
      col("__w").dropFields("__op").as("__p"): _*)
    val untouched = snapshot.join(
      latest.select(keyCols.map(col): _*), keyCols, "left_anti")
    val applied = latest.filter(col("__op") === "upsert")
      .select(snapshot.columns.toSeq.map(c =>
        if (keyCols.contains(c)) col(c) else col(s"__p.$c").as(c)): _*)
    untouched.unionByName(applied)
  }

  /** Key-hash bucket used by the partitioned CDC layout: a stable
    * function of the key alone, so a key's rows land in the same
    * partition directory for the life of the snapshot. */
  private def cdcBucket(keyCols: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets.toLong))
      .cast("int")

  /** Write a snapshot in the bucketed layout [[applyChangesBucketed]]
    * merges into: rows hash-partitioned into `__bucket=N` directories
    * by key. Pick `nBuckets` so one bucket is a few files (the merge
    * rewrites whole buckets): at 100 TB with day-scale deltas,
    * thousands of buckets make a merge touch gigabytes, not the
    * corpus. */
  def writeBucketedSnapshot(df: DataFrame, path: String,
                            keyCols: Seq[String], nBuckets: Int): Unit = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(nBuckets >= 1, "nBuckets must be >= 1")
    require(!df.columns.contains("__bucket"),
      "input already has a __bucket column")
    // one exchange keyed by bucket so each directory is ONE file,
    // not one per upstream partition — the merge's read cost is
    // then touched-buckets files, and compaction never needed
    df.withColumn("__bucket", cdcBucket(keyCols, nBuckets))
      .repartition(col("__bucket"))
      .write.mode("overwrite").partitionBy("__bucket").parquet(path)
  }

  /** [[applyChanges]] against a [[writeBucketedSnapshot]] layout,
    * rewriting ONLY the partitions that contain changed keys — the
    * difference between "a merge costs ∝ the delta's key spread" and
    * "a merge rewrites 100 TB". The changes' buckets are computed
    * first (a distinct over ≤ nBuckets values), the snapshot read is
    * partition-PRUNED to those directories (spec-asserted via
    * inputFiles), the merge is [[applyChanges]]' broadcast-anti plan
    * over that slice, and the write is a dynamic partition overwrite
    * of just the touched buckets; a touched bucket whose rows all
    * deleted is dropped explicitly (dynamic overwrite skips absent
    * partitions). Untouched directories are never opened.
    *
    * Crash safety: per-partition overwrite is not atomic across
    * buckets, but re-running the SAME merge is idempotent (latest
    * upserts rewrite the same payload, deletes of absent keys are
    * no-ops), so recovery is re-run, not restore. `dropStale` applies
    * [[freshChanges]]' guard against the touched buckets, and a batch
    * with nothing left after it rewrites nothing. Returns the touched
    * bucket ids. */
  def applyChangesBucketed(spark: org.apache.spark.sql.SparkSession,
                           path: String, changes: DataFrame,
                           keyCols: Seq[String], nBuckets: Int,
                           seqCol: String = "seq",
                           opCol: String = "op",
                           dropStale: Boolean = false): Seq[Int] = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    val chg = changes.withColumn("__bucket", cdcBucket(keyCols, nBuckets))
    val touched = chg.select("__bucket").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq // bounded by nBuckets
    if (touched.isEmpty) return touched
    val slice = spark.read.parquet(path)
      .filter(col("__bucket").isin(touched: _*))
    // the stale guard, partition-pruned: it reads only the TOUCHED
    // buckets' (key, seq) columns — never the corpus
    val eligible =
      if (dropStale) freshChanges(chg, slice, keyCols, seqCol) else chg
    if (dropStale && eligible.isEmpty) return Seq.empty // full replay:
    // nothing eligible, skip the (identical) rewrite entirely
    val merged = applyChanges(slice, eligible, keyCols, seqCol, opCol)
      .truncateLineage(eager = true) // sever the self-read before the
    // overwrite below rewrites the directories the plan reads from
    // per-write option, NOT the session conf: two concurrent merges
    // (or a merge racing any other overwrite) must not observe each
    // other's conf toggles — a restore-to-static landing before a
    // sibling's write plans would turn that partitioned overwrite
    // into a full static overwrite deleting every untouched bucket.
    merged.repartition(col("__bucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(path)
    val remaining = merged.select("__bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    touched.filterNot(remaining).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(path, s"__bucket=$b"),
        true)
    }
    touched
  }

  /** The stale-change guard of the streaming snapshot merges: drop each
    * change at or below `current`'s seq for its key, so late arrivals
    * cannot overwrite newer state and a replayed micro-batch re-applies
    * as a no-op. Cost: one left join of the changes against `current`'s
    * (key, seq) projection. Without `seqCol` in `current` every change
    * passes (replay of the same batch is still idempotent; cross-batch
    * seq order is then the source's to guarantee). */
  private def freshChanges(changes: DataFrame, current: DataFrame,
                           keyCols: Seq[String],
                           seqCol: String): DataFrame =
    if (!current.columns.contains(seqCol)) changes
    else {
      val cur = current.select(
        keyCols.map(c => col(c).as(s"__s_$c")) :+
          col(seqCol).as("__s_seq"): _*)
      val on = keyCols.map(c => col(c) <=> col(s"__s_$c")).reduce(_ && _)
      changes.join(cur, on, "left")
        .filter(col("__s_seq").isNull || col(seqCol) > col("__s_seq"))
        .select(changes.columns.map(col): _*)
    }

  /** Merge one micro-batch of a CDC change stream into the parquet
    * snapshot at `path` — the per-batch body of the
    * `merge_stream_snapshot` sink. The snapshot must exist (write an
    * initial one, possibly empty but with its schema, before the
    * stream starts); keep `seqCol` in it so [[freshChanges]]' stale
    * guard can drop late and replayed changes.
    *
    * `nBuckets = None`: [[applyChanges]]' broadcast-anti plan over the
    * whole snapshot (which never shuffles), rewritten through
    * [[swapIn]], so a concurrent reader never sees a half-written
    * snapshot. `nBuckets = Some(n)` is the 100 TB path: the snapshot
    * lives in the [[writeBucketedSnapshot]] layout and
    * [[applyChangesBucketed]] rewrites ONLY the buckets the batch's
    * keys touch, skipping a fully-stale batch entirely — per-batch IO
    * ∝ the delta's bucket spread, never the snapshot. */
  def mergeSnapshot(spark: org.apache.spark.sql.SparkSession, path: String,
                    changes: DataFrame, keyCols: Seq[String],
                    nBuckets: Option[Int], seqCol: String,
                    opCol: String): Unit = nBuckets match {
    case Some(n) =>
      applyChangesBucketed(spark, path, changes, keyCols, n, seqCol, opCol,
        dropStale = true)
      ()
    case None =>
      swapIn(spark, path, "merge") { tmp =>
        // the write reads the CURRENT snapshot while producing tmp; the
        // swap happens only after it completes
        val snap = spark.read.parquet(path)
        applyChanges(snap, freshChanges(changes, snap, keyCols, seqCol),
          keyCols, seqCol, opCol).write.mode("overwrite").parquet(tmp)
        true
      }
  }
}
