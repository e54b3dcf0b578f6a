package graft

import org.scalatest.funsuite.AnyFunSuite

class SourcesSpec extends AnyFunSuite {
  import SparkTestSession._

  test("events reader handles ns timestamps and restores the session conf") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.conf.getOption(key).forall(_ == "false"))
    val events = graft.sources.Sources.events(spark, "/root/testdata/sf0.001")
    // conf restored immediately after read()
    assert(spark.conf.getOption(key).forall(_ == "false"))
    // the plan still executes correctly after the restore
    assert(events.count() == 1000L)
    assert(events.schema("ts").dataType.typeName == "timestamp")
    val first = events.orderBy("event_id").select("ts").first().getTimestamp(0)
    assert(first.toString.startsWith("2024-01-01 00:09:58"))
  }

  test("bloomFilteredWrite persists parquet bloom filters on the listed " +
       "columns only") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bloom").toString
    val orders = spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    graft.sources.Layout.bloomFilteredWrite(orders, Seq("o_orderkey"),
      dir, ndv = 2000L)
    // footer proof via the parquet-hadoop API that ships with Spark: a
    // bloom filter is recorded as a non-negative offset on the column
    // chunk metadata — present for the configured column, absent
    // elsewhere (filters cost bytes; opting in per column must not
    // silently bloom everything)
    val conf = spark.sessionState.newHadoopConf()
    val files = new java.io.File(dir).listFiles
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    for (f <- files) {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try {
        for (block <- reader.getFooter.getBlocks.asScala) {
          val byName = block.getColumns.asScala
            .map(c => c.getPath.toDotString -> c.getBloomFilterOffset)
            .toMap
          assert(byName("o_orderkey") >= 0, s"missing bloom in $f")
          assert(byName("o_custkey") < 0 && byName("o_totalprice") < 0,
            s"unconfigured column grew a bloom filter in $f")
        }
      } finally reader.close()
    }
    // equality lookup over the bloom-filtered layout stays correct
    val key = orders.select("o_orderkey").first().getLong(0)
    val direct = orders.filter(col("o_orderkey") === key).count()
    val viaBloom = spark.read.parquet(dir)
      .filter(col("o_orderkey") === key).count()
    assert(direct == viaBloom && viaBloom >= 1)
  }

  test("compact bin-packs small files to the byte target, preserves " +
       "content, and re-clusters when asked") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files
      .createTempDirectory("graft-compact").toString + "/t"
    val src = spark.read
      .parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    src.repartition(32).write.parquet(dir)
    val before = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(before.length == 32)
    val totalBytes = before.map(_.length).sum
    // target half the total -> exactly 2 output files
    val (nb, na) = graft.sources.Layout.compact(spark, dir,
      targetBytes = (totalBytes + 1) / 2)
    assert(nb == 32 && na == 2)
    val after = spark.read.parquet(dir)
    assert(after.count() == src.count())
    // content identical row-for-row
    assert(after.orderBy("o_orderkey").collect().toSeq ==
      src.orderBy("o_orderkey").collect().toSeq)
    // sorted variant: each output file's key range must be disjoint.
    // Re-derive the target from the CURRENT bytes — compaction shrank
    // the total (32 tiny files carry heavy per-file overhead)
    val nowBytes = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val (_, ns) = graft.sources.Layout.compact(spark, dir,
      targetBytes = (nowBytes + 1) / 2, sortCol = Some("o_orderkey"))
    assert(ns == 2)
    val ranges = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val d = spark.read.parquet(f.getPath)
          .agg(org.apache.spark.sql.functions.min(col("o_orderkey")),
            org.apache.spark.sql.functions.max(col("o_orderkey"))).head
        (d.getLong(0), d.getLong(1))
      }.sortBy(_._1)
    assert(ranges.length == 2 && ranges(0)._2 < ranges(1)._1,
      s"expected disjoint sorted ranges, got ${ranges.toSeq}")
  }

  test("compact restores a directory a crashed swap left parked, then " +
       "compacts it") {
    // a crash between the swap's two renames leaves the data only at
    // <path>__compact_old; the next compaction renames it back first
    val base = java.nio.file.Files.createTempDirectory("graft-compact-heal")
    val dir = base.resolve("t").toString
    spark.range(0, 300).repartition(6).write.parquet(s"${dir}__compact_old")
    assert(graft.sources.Layout.compact(spark, dir) == ((6, 1)))
    assert(spark.read.parquet(dir).count() == 300)
    assert(base.toFile.list().toSeq == Seq("t"))
  }

  test("jsonl round-trips content, types, and JSON-hostile strings") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_jsonl_spec").toString
    // quotes, backslashes, newlines, unicode, nulls — everything JSON
    // escaping has to survive
    val rows = Seq(
      (1L, "plain text", 3.5, true),
      (2L, "quote \" backslash \\ tab\t", -0.0, false),
      (3L, "newline\nand unicode é中", Double.MaxValue, true),
      (4L, null.asInstanceOf[String], 1e-300, false))
    val df = rows.toDF("id", "s", "d", "b")
    graft.sources.Sources.writeJsonl(df, dir)
    val back = graft.sources.Sources.readJsonl(spark, dir, df.schema)
    // JSON reads widen every field to nullable (a line can omit any
    // field) — names and types must survive exactly
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = df.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b, s"$a vs $b")
  }

  test("csv round-trips content and types incl. CSV-hostile strings") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_csv_spec").toString
    // embedded delimiters, quotes, newlines, unicode — everything CSV
    // quoting has to survive (empty-vs-null is the format's documented
    // lossy corner, so no empty-string row here)
    val rows = Seq(
      (1L, "plain text", 3.5, true),
      (2L, "comma, quote \" and tab\t", -2.25, false),
      (3L, "newline\ninside é中", 1.5e10, true),
      (4L, null.asInstanceOf[String], 1e-300, false))
    val df = rows.toDF("id", "s", "d", "b")
    graft.sources.Sources.writeCsv(df, dir)
    val back = graft.sources.Sources.readCsv(spark, dir, df.schema)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = df.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b, s"$a vs $b")
  }

  test("orc round-trips content and types; footer schema self-describes") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_orc_spec").toString
    // columnar format: no text-serialization corners — nulls, empty
    // string (distinct from null, unlike CSV), unicode, extremes all
    // survive bit-for-bit
    val rows = Seq(
      (1L, "plain text", 3.5, true),
      (2L, "", -0.0, false),
      (3L, "newline\nand unicode é中", Double.MaxValue, true),
      (4L, null.asInstanceOf[String], 1e-300, false))
    val df = rows.toDF("id", "s", "d", "b")
    graft.sources.Sources.writeOrc(df, dir)
    // no schema argument: the footers self-describe
    val back = graft.sources.Sources.readOrc(spark, dir)
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = df.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b, s"$a vs $b")
    // explicit-schema path prunes to a projection at the scan
    val pruned = graft.sources.Sources.readOrc(spark, dir,
      Some(org.apache.spark.sql.types.StructType(
        df.schema.fields.filter(f => f.name == "id" || f.name == "s"))))
    assert(pruned.columns.toSeq == Seq("id", "s"))
    assert(pruned.collect().map(_.toSeq).toSet ==
      rows.map(r => Seq(r._1, r._2)).toSet)
  }

  test("avro round-trips every supported type (nulls, nested struct, " +
       "array, string-keyed map, timestamp, date, binary); a byte-" +
       "range-split read recovers every row exactly once; unsupported " +
       "types throw at plan time") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_avro_spec").toString
    val df = Seq(
      (1L, "plain", Some(3.5), Array[Byte](1, 2, 3),
        Seq(1.5f, -2.5f), Map("a" -> 1L, "b" -> 2L)),
      (2L, "", Some(-0.0), Array.empty[Byte],
        Seq.empty[Float], Map.empty[String, Long]),
      (3L, "unicode é中\nnl", None, Array[Byte](-1),
        Seq(Float.MaxValue), Map("k" -> -9L)),
      (4L, null.asInstanceOf[String], Some(1e-300),
        null.asInstanceOf[Array[Byte]], null.asInstanceOf[Seq[Float]],
        null.asInstanceOf[Map[String, Long]]))
      .toDF("id", "s", "d", "bin", "arr", "m")
      .withColumn("ts", to_timestamp(
        lit("2024-03-01 12:34:56.789012") ))
      .withColumn("dt", to_date(lit("2024-03-05")))
      .withColumn("nested", struct(col("id").as("nid"),
        col("s").as("ns"), col("arr").as("narr")))
    graft.sources.Sources.writeAvro(df, dir)
    val back = graft.sources.Sources.readAvro(spark, dir)
    // Spark marks every file-source schema nullable on read
    // (asNullable) — compare types modulo nested nullability
    import org.apache.spark.sql.types._
    def nullify(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullify(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullify(a.elementType), true)
      case m: MapType =>
        MapType(nullify(m.keyType), nullify(m.valueType), true)
      case x => x
    }
    assert(back.schema.fields.map(f => (f.name, nullify(f.dataType))).toSeq
      == df.schema.fields.map(f => (f.name, nullify(f.dataType))).toSeq)
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.selectExpr("id", "s", "d", "hex(bin) AS bin", "arr",
          // map iteration order is not part of the format contract —
          // compare sorted entries
          "array_sort(map_entries(m)) AS m", "cast(ts AS string) AS ts",
          "cast(dt AS string) AS dt", "nested.nid", "nested.ns",
          "nested.narr")
        .collect().map(_.toString).toSet
    assert(canon(back) == canon(df))
    // column pruning: a two-column read decodes (plan has only them)
    val pruned = graft.sources.Sources.readAvro(spark, dir).select("id", "s")
    assert(pruned.collect().map(_.toSeq).toSet ==
      df.select("id", "s").collect().map(_.toSeq).toSet)
    // splittable: a bigger file read under a tiny maxPartitionBytes
    // splits into several tasks, each syncing into its range — every
    // row comes back exactly once
    val bigDir = java.nio.file.Files
      .createTempDirectory("graft_avro_split").toString
    spark.range(0, 200000).select(col("id"),
        concat(lit("row-"), col("id")).as("s"))
      .coalesce(1)
      .write.format("graftavro").mode("overwrite").save(bigDir)
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, (64 * 1024).toString)
      val split = spark.read.format("graftavro").load(bigDir)
      assert(split.rdd.getNumPartitions > 1,
        "expected a byte-range split under 64 KiB partitions")
      assert(split.count() == 200000L)
      assert(split.agg(sum("id")).first().getLong(0) ==
        199999L * 200000L / 2)
    } finally spark.conf.set(key, prev)
    // unsupported Spark type (decimal) is a PLAN-time error
    val bad = Seq((1L, BigDecimal(1.5))).toDF("id", "dec")
    val e = intercept[IllegalArgumentException] {
      graft.sources.Sources.writeAvro(bad, dir + "_bad")
    }
    assert(e.getMessage.contains("unsupported Spark type"))
  }

  // ---- WARC parsing ----

  private def warcRec(tpe: String, payload: String,
                      extra: String = ""): String = {
    val pb = payload.getBytes("UTF-8")
    s"WARC/1.0\r\nWARC-Type: $tpe\r\n${extra}Content-Length: ${pb.length}\r\n\r\n$payload"
  }

  test("parseWarc walks by Content-Length: an embedded sentinel cannot shear a record") {
    import spark.implicits._
    // payload contains a COMPLETE well-formed fake record — a split on
    // 'WARC/1.0' would produce three records and a torn payload
    val evil = "article about archives:\r\n" +
      warcRec("response", "fake inner payload") + "\r\nend of article"
    val blob = warcRec("response", evil) + "\r\n\r\n" +
      warcRec("metadata", "plain")
    val out = graft.sources.Warc.parseWarc(
        Seq((1L, blob)).toDF("doc_id", "blob"))
      .collect().sortBy(_.getAs[Int]("rec_id"))
    assert(out.length == 2)
    assert(out(0).getAs[String]("payload") == evil)
    assert(out(0).getAs[String]("warc_type") == "response")
    assert(out(1).getAs[String]("payload") == "plain")
    assert(out(1).getAs[String]("warc_type") == "metadata")
  }

  test("parseWarc: Content-Length counts BYTES; multibyte payloads slice exactly") {
    import spark.implicits._
    val payload = "café — résumé" // 3 multibyte chars
    val blob = warcRec("response", payload,
      extra = "WARC-Target-URI: https://h/p\r\n")
    val out = graft.sources.Warc.parseWarc(
      Seq((1L, blob)).toDF("doc_id", "blob")).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("payload") == payload)
    assert(out(0).getAs[Long]("content_length") ==
      payload.getBytes("UTF-8").length)
    assert(out(0).getAs[String]("target_uri") == "https://h/p")
  }

  test("parseWarc drops truncated and malformed tails instead of mis-parsing") {
    import spark.implicits._
    val good = warcRec("response", "ok")
    val truncated = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 9999\r\n\r\nshort"
    val noLength = "WARC/1.0\r\nWARC-Type: response\r\n\r\npayload"
    val garbage = "not a warc at all"
    // a 25-digit Content-Length must drop the tail, not throw
    val hugeLength = "WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 9999999999999999999999999\r\n\r\nx"
    val df = Seq(
      (1L, good + "\r\n\r\n" + truncated),
      (2L, good + "\r\n\r\n" + noLength),
      (3L, garbage),
      (4L, good + "\r\n\r\n" + garbage),
      (5L, good + "\r\n\r\n" + hugeLength)
    ).toDF("doc_id", "blob")
    val out = graft.sources.Warc.parseWarc(df).collect()
    // each blob yields exactly its well-formed prefix
    assert(out.count(_.getLong(0) == 1L) == 1)
    assert(out.count(_.getLong(0) == 2L) == 1)
    assert(out.count(_.getLong(0) == 3L) == 0)
    assert(out.count(_.getLong(0) == 4L) == 1)
    assert(out.count(_.getLong(0) == 5L) == 1)
    assert(out.forall(_.getAs[String]("payload") == "ok"))
  }

  // ---- .warc.gz ingest: gzip members, byte walk, HTTP, charset ----

  private def gz(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(bytes); g.close()
    bos.toByteArray
  }

  private def warcRecBytes(tpe: String, payload: Array[Byte],
                           extra: String = ""): Array[Byte] = {
    val hdr = (s"WARC/1.0\r\nWARC-Type: $tpe\r\n${extra}" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes("US-ASCII")
    hdr ++ payload
  }

  test("GunzipBytes: multi-member concatenation decompresses whole; " +
       "trailing garbage and empty input are safe") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftext.{GunzipBytes, GzipBytes}
    val a = "first member ".getBytes("UTF-8")
    val b = "second member".getBytes("UTF-8")
    val df = Seq(
      (1L, gz(a) ++ gz(b)),                            // two members
      (2L, gz(a) ++ gz(b) ++ "junk!".getBytes),        // garbage tail
      (3L, Array.emptyByteArray),                      // empty blob
      (4L, "not gzip at all".getBytes("UTF-8"))        // no member
    ).toDF("id", "blob")
    val out = df.select(col("id"), GunzipBytes(col("blob")).as("raw"))
      .collect().map(r => r.getLong(0) ->
        new String(r.getAs[Array[Byte]]("raw"), "UTF-8")).toMap
    assert(out(1L) == "first member second member")
    assert(out(2L) == "first member second member")
    assert(out(3L) == "")
    assert(out(4L) == "")
    // the engine-side compressor round-trips through the decompressor
    val rt = Seq(Tuple1(a ++ b)).toDF("raw")
      .select(GunzipBytes(GzipBytes(col("raw"))).as("back"))
      .head.getAs[Array[Byte]]("back")
    assert(java.util.Arrays.equals(rt, a ++ b))
  }

  test("parseWarcGz walks on BYTES: a cp1252 body's Content-Length " +
       "counts octets, so a UTF-8 re-encoded walk would misalign") {
    import spark.implicits._
    // 'café' in cp1252/latin-1 = 4 bytes; as UTF-8 it would be 5 —
    // a string-typed walk would overrun into the next record
    val body = Array[Byte]('c', 'a', 'f', 0xE9.toByte)
    val blob = gz(warcRecBytes("response", body)) ++
      gz(warcRecBytes("metadata", "after".getBytes("US-ASCII")))
    val out = graft.sources.Warc.parseWarcGz(
        Seq((1L, blob)).toDF("doc_id", "blob"))
      .collect().sortBy(_.getAs[Int]("rec_id"))
    assert(out.length == 2)
    assert(java.util.Arrays.equals(
      out(0).getAs[Array[Byte]]("payload"), body))
    assert(out(0).getAs[Long]("content_length") == 4L)
    assert(new String(out(1).getAs[Array[Byte]]("payload"),
      "US-ASCII") == "after")
  }

  test("parseWarcGz: a corrupt gzip member drops the tail; prior " +
       "members' records survive") {
    import spark.implicits._
    val good = gz(warcRecBytes("response", "ok".getBytes))
    val corrupt = {
      val c = gz(warcRecBytes("response", "lost".getBytes))
      c(c.length / 2) = (c(c.length / 2) ^ 0xFF).toByte // flip a byte
      c
    }
    val unreachable = gz(warcRecBytes("response", "never".getBytes))
    val out = graft.sources.Warc.parseWarcGz(
        Seq((1L, good ++ corrupt ++ unreachable)).toDF("doc_id", "blob"))
      .collect()
    assert(out.length == 1)
    assert(new String(out(0).getAs[Array[Byte]]("payload")) == "ok")
  }

  test("parseWarcGz streams across member boundaries: records " +
       "spanning members, multi-record members, and a separator " +
       "pair split mid-\\r\\n all reassemble; memory never needs " +
       "the whole archive") {
    import spark.implicits._
    val r1 = warcRecBytes("response", "alpha body".getBytes)
    val r2 = warcRecBytes("response",
      ("beta " * 4000).getBytes) // ~20 KB: spans both cut members
    val r3 = warcRecBytes("metadata", "gamma".getBytes)
    // decompressed stream: r1 ++ \r\n\r\n ++ r2 ++ r3, cut into three
    // members at (a) mid-separator — after the first '\r' — and
    // (b) mid-r2, so reassembly exercises the skip state AND the
    // incomplete-record state; r3 rides in the same member as r2's
    // tail (multi-record member)
    val whole = r1 ++ "\r\n\r\n".getBytes ++ r2 ++ r3
    val cutA = r1.length + 1 // inside the first \r\n pair
    val cutB = r1.length + 4 + r2.length / 2
    val blob = gz(whole.slice(0, cutA)) ++
      gz(whole.slice(cutA, cutB)) ++ gz(whole.slice(cutB, whole.length))
    val out = graft.sources.Warc.parseWarcGz(
        Seq((1L, blob)).toDF("doc_id", "blob"))
      .collect().sortBy(_.getAs[Int]("rec_id"))
    assert(out.length == 3)
    assert(new String(out(0).getAs[Array[Byte]]("payload")) ==
      "alpha body")
    assert(out(1).getAs[Array[Byte]]("payload").length == 20000)
    assert(new String(out(2).getAs[Array[Byte]]("payload")) == "gamma")
    // and the batch string walk agrees on the same decompressed bytes
    val batch = graft.sources.Warc.parseWarc(
        Seq((1L, new String(whole, "US-ASCII"))).toDF("doc_id", "blob"))
      .collect().sortBy(_.getAs[Int]("rec_id"))
    assert(batch.length == 3)
    assert(batch.map(_.getAs[String]("warc_type")).toSeq ==
      out.map(_.getAs[String]("warc_type")).toSeq)
  }

  test("parseWarcGz: a member boundary landing EXACTLY at a record " +
       "end (or after the separator's first \\r\\n) keeps the walk " +
       "alive — the next member's leading separator is skipped, not " +
       "mistaken for a malformed record") {
    import spark.implicits._
    // regression: step() used to clear the skip state when the buffer
    // emptied at a member boundary, so a member starting with \r\n
    // failed the WARC/ magic check and silently dropped every
    // remaining record
    val r1 = warcRecBytes("response", "one".getBytes)
    val r2 = warcRecBytes("response", "two".getBytes)
    val r3 = warcRecBytes("metadata", "three".getBytes)
    val whole = r1 ++ "\r\n\r\n".getBytes ++ r2 ++
      "\r\n\r\n".getBytes ++ r3
    // cut A: exactly at r1's end (separator opens the next member);
    // cut B: two bytes into r2's separator (a lone \r\n ends a member)
    val cutA = r1.length
    val cutB = r1.length + 4 + r2.length + 2
    val blob = gz(whole.slice(0, cutA)) ++
      gz(whole.slice(cutA, cutB)) ++ gz(whole.slice(cutB, whole.length))
    val out = graft.sources.Warc.parseWarcGz(
        Seq((1L, blob)).toDF("doc_id", "blob"))
      .collect().sortBy(_.getAs[Int]("rec_id"))
    assert(out.length == 3)
    assert(out.map(r => new String(r.getAs[Array[Byte]]("payload")))
      .toSeq == Seq("one", "two", "three"))
  }

  test("WarcGzRecords: a single gzip member carrying many records " +
       "walks in O(member) byte-shifts, not O(records x member) — " +
       "the plain-gzip-of-a-whole-warc layout") {
    import org.apache.spark.sql.graftext.WarcGzRecords
    // 10k records in ONE member: the pre-fix per-record arraycopy
    // would shift ~ sum_i (N-i)*recLen ≈ 2.9 GB here; the head-offset
    // walk shifts at most a few multiples of the member size
    val nRecs = 10000
    val one = warcRecBytes("response",
      ("payload-" + "x" * 50).getBytes("US-ASCII"))
    val member = new java.io.ByteArrayOutputStream()
    (0 until nRecs).foreach { i =>
      if (i > 0) member.write("\r\n\r\n".getBytes("US-ASCII"))
      member.write(one)
    }
    val memberBytes = member.toByteArray
    val (it, shifted) = WarcGzRecords.overWithShiftCounter(
      new java.io.ByteArrayInputStream(gz(memberBytes)))
    assert(it.size == nRecs)
    // growth doublings + amortized compaction each move every live
    // byte a bounded number of times: 4x member is a safe linear cap
    // (measured ~2x); the quadratic walk would need ~2400x
    assert(shifted() <= 4L * memberBytes.length,
      s"shifted ${shifted()} bytes for a ${memberBytes.length}-byte member")
  }

  test("parseWarcGz: a record left incomplete when a later member " +
       "corrupts drops with the tail; completed records survive") {
    import spark.implicits._
    val r1 = warcRecBytes("response", "kept".getBytes)
    val r2 = warcRecBytes("response", ("lost " * 1000).getBytes)
    val whole = r1 ++ r2
    val cut = r1.length + r2.length / 2
    val m2 = {
      val c = gz(whole.slice(cut, whole.length))
      c(c.length / 2) = (c(c.length / 2) ^ 0xFF).toByte
      c
    }
    val out = graft.sources.Warc.parseWarcGz(
        Seq((1L, gz(whole.slice(0, cut)) ++ m2)).toDF("doc_id", "blob"))
      .collect()
    // r1 completed inside member 1; r2's tail never verifies, so the
    // in-progress bytes drop — exactly the batch gunzip-then-walk
    // result on the same archive
    assert(out.length == 1)
    assert(new String(out(0).getAs[Array[Byte]]("payload")) == "kept")
  }

  test("readWarcGz ingests .warc.gz FILES one task per file: " +
       "records stream per file with the source path as id") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-warcgz").toFile
    def writeFile(name: String, recs: Seq[Array[Byte]]): Unit = {
      val f = new java.io.FileOutputStream(new java.io.File(dir, name))
      recs.foreach(r => f.write(gz(r)))
      f.close()
    }
    writeFile("a.warc.gz", Seq(
      warcRecBytes("response", "file-a one".getBytes),
      warcRecBytes("metadata", "file-a two".getBytes)))
    writeFile("b.warc.gz", Seq(
      warcRecBytes("response", "file-b only".getBytes)))
    val out = graft.sources.Warc.readWarcGz(spark,
        Seq(dir.getAbsolutePath + "/*.warc.gz"))
      .collect()
    assert(out.length == 3)
    val byFile = out.groupBy(r =>
      r.getAs[String]("path").split("/").last)
    assert(byFile("a.warc.gz").map(_.getAs[Int]("rec_id")).sorted
      .toSeq == Seq(0, 1))
    assert(byFile("b.warc.gz").length == 1)
    assert(new String(byFile("b.warc.gz").head
      .getAs[Array[Byte]]("payload")) == "file-b only")
    // directory form expands to the same files
    assert(graft.sources.Warc.readWarcGz(spark,
      Seq(dir.getAbsolutePath)).count() == 3)

    // the registered file source reads the same records through
    // spark.read (globs, dirs, catalog composability); the raw rows
    // carry the recordRows shape and parseRecordRows projects them
    // to the readWarcGz output exactly
    val viaFormat = graft.sources.Warc.parseRecordRows(
      spark.read.format("warcgz")
        .load(dir.getAbsolutePath + "/*.warc.gz"))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("path").split("/").last,
        r.getAs[Int]("rec_id"), r.getAs[String]("warc_type"),
        new String(r.getAs[Array[Byte]]("payload"), "US-ASCII"))
    assert(viaFormat.collect().map(key).toSet ==
      graft.sources.Warc.readWarcGz(spark,
        Seq(dir.getAbsolutePath)).collect().map(key).toSet)
    // column pruning holds: a rec_id-only projection never carries
    // record bytes into rows
    assert(spark.read.format("warcgz").load(dir.getAbsolutePath)
      .select("rec_id").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(0, 0, 1))
    // read-only: writes name themselves
    val w = intercept[UnsupportedOperationException] {
      spark.range(1).write.format("warcgz").save(
        dir.getAbsolutePath + "/no")
    }
    assert(w.getMessage.contains("read-only"))
  }

  test("httpResponses: charset trial chain — declared correct, " +
       "declared WRONG, unknown name, undeclared cp1252, replacement") {
    import spark.implicits._
    def http(ctHeader: String, body: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\n$ctHeader\r\n\r\n").getBytes("US-ASCII") ++
        body
    val latin1Cafe = Array[Byte]('c', 'a', 'f', 0xE9.toByte)
    val rows = Seq(
      // declared latin-1, latin-1 bytes: declared wins
      (1L, http("Content-Type: text/html; charset=iso-8859-1",
        latin1Cafe)),
      // declared utf-8 but cp1252 bytes: strict declared fails,
      // strict utf-8 fails, cp1252 catches
      (2L, http("Content-Type: text/html; charset=utf-8", latin1Cafe)),
      // unknown charset name skips to utf-8
      (3L, http("Content-Type: text/html; charset=klingon-8",
        "plain".getBytes("UTF-8"))),
      // undefined cp1252 slot 0x81 becomes U+FFFD, never a crash
      (4L, http("Content-Type: text/html", Array[Byte](0x81.toByte))),
      // non-HTTP payload passes through whole with null HTTP fields
      (5L, "just some metadata".getBytes("UTF-8")),
      // truncated message (no blank line): headers kept, empty body
      (6L, "HTTP/1.1 301 M\r\nLocation: x".getBytes("US-ASCII")),
      // DECOY: a charset= token in a Link header must NOT win —
      // sniffing is scoped to the Content-Type value (no charset
      // there, latin-1 bytes → strict utf-8 fails → cp1252 fallback)
      (7L, http("Link: <http://x/a>; charset=iso-8859-1\r\n" +
        "Content-Type: text/html", latin1Cafe)),
      // null payload → null body/charset, not a decoded-empty row
      (8L, null.asInstanceOf[Array[Byte]]))
    val recs = rows.toDF("doc_id", "payload")
    val out = graft.sources.Warc.httpResponses(recs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("charset") == "iso-8859-1")
    assert(out(1L).getAs[String]("body") == "café")
    assert(out(2L).getAs[String]("charset") == "windows-1252")
    assert(out(2L).getAs[String]("body") == "café")
    assert(out(3L).getAs[String]("charset") == "utf-8")
    assert(out(3L).getAs[String]("body") == "plain")
    assert(out(4L).getAs[String]("charset") == "windows-1252")
    assert(out(4L).getAs[String]("body") == "�")
    assert(out(5L).isNullAt(out(5L).fieldIndex("http_status")))
    assert(out(5L).isNullAt(out(5L).fieldIndex("content_type")))
    assert(out(5L).getAs[String]("body") == "just some metadata")
    assert(out(6L).getAs[Int]("http_status") == 301)
    assert(out(6L).getAs[String]("body") == "")
    assert(out(1L).getAs[Int]("http_status") == 200)
    assert(out(1L).getAs[String]("content_type") == "text/html")
    // decoy Link-header charset ignored: fallback chain ran instead
    // of the decoy's iso-8859-1 (same decoded text, different decoder)
    assert(out(7L).getAs[String]("charset") == "windows-1252")
    assert(out(7L).getAs[String]("body") == "café")
    assert(out(8L).isNullAt(out(8L).fieldIndex("body")))
    assert(out(8L).isNullAt(out(8L).fieldIndex("charset")))
  }

  test("the full crawl entry chain closes: .warc.gz -> httpResponses " +
       "-> extractText") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val html = "<html><body><p>" +
      "The café article body has plenty of prose in this " +
      "paragraph, with enough characters to clear the extractor's " +
      "minimum and no links at all.</p></body></html>"
    // cp1252-encode the page and DON'T declare a charset: the chain
    // must fall back to windows-1252 before extraction
    val body = html.getBytes("windows-1252")
    val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n")
      .getBytes("US-ASCII") ++ body
    val rec = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes(
      "US-ASCII") ++ payload
    val parsed = graft.sources.Warc.httpResponses(
      graft.sources.Warc.parseWarcGz(
        Seq((1L, gz(rec))).toDF("doc_id", "blob")))
    val text = graft.operators.HtmlExtract.extractText(
        parsed.filter(col("warc_type") === "response"),
        htmlCol = "body")
      .collect()
    assert(text.length == 1)
    val t = text(0).getAs[String]("text_main")
    assert(t.contains("café article body"))
    assert(!t.contains("<p>"))
  }

  // ---- graft.sources.LocalFileSystems: file:// through NIO ----------

  private def unixMode(p: java.nio.file.Path): Int =
    java.nio.file.Files.getAttribute(p, "unix:mode",
      java.nio.file.LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** The class Hadoop serves for `file://` without graft's settings
    * (its service loader's last registration), fresh and initialized. */
  private def stockLocalFs(conf: org.apache.hadoop.conf.Configuration)
      : org.apache.hadoop.fs.FileSystem = {
    val fs = org.apache.hadoop.fs.FileSystem
      .getFileSystemClass("file", new org.apache.hadoop.conf.Configuration())
      .getDeclaredConstructor().newInstance()
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  /** Every entry under `root`: relative path -> (mode, bytes or dir). */
  private def tree(root: java.nio.file.Path)
      : Map[String, (Int, Option[Seq[Byte]])] = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(root)
    try w.iterator().asScala.filterNot(_ == root).map { p =>
      root.relativize(p).toString -> ((unixMode(p),
        if (java.nio.file.Files.isDirectory(p)) None
        else Some(java.nio.file.Files.readAllBytes(p).toSeq)))
    }.toMap
    finally w.close()
  }

  test("NioLocalFileSystem sets the stock local file system's modes and " +
       ".crc files on mkdirs, create and rename under several umasks; a " +
       "sticky bit takes the stock path") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.hadoop.fs.permission.FsPermission
    import graft.sources.NioLocalFileSystem
    val root = java.nio.file.Files.createTempDirectory("graft-fs-modes")
    val dirPerms = Seq("755", "700", "775", "711", "777", "750")
    val filePerms = Seq("644", "600", "666", "640", "444", "755", "400")
    def populate(fs: FileSystem, base: String): Seq[Boolean] = {
      dirPerms.foreach(m =>
        assert(fs.mkdirs(new Path(s"$base/d$m/sub"), new FsPermission(m))))
      filePerms.foreach { m =>
        val out = fs.create(new Path(s"$base/f$m"), new FsPermission(m),
          true, 4096, 1.toShort, 1L << 20, null)
        out.write(s"payload $m\n".getBytes("UTF-8"))
        out.close()
      }
      // FsPermission.applyUMask drops a sticky bit, so only a direct
      // setPermission carries one — NIO cannot set it, Hadoop's own
      // chmod path must
      fs.setPermission(new Path(s"$base/d755"), new FsPermission("1777"))
      intercept[java.io.IOException](fs.setPermission(
        new Path(s"$base/missing"), new FsPermission("644")))
      // onto an existing file (refused by the stock class on this
      // classpath) and onto a free name; .crc files follow
      val renamed = Seq(fs.rename(new Path(s"$base/f644"),
          new Path(s"$base/f600")),
        fs.rename(new Path(s"$base/f644"), new Path(s"$base/g644")))
      assert(renamed.last)
      renamed
    }
    for (umask <- Seq("022", "077", "002", "000")) {
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", umask)
      val stock = root.resolve(s"stock$umask")
      val nio = root.resolve(s"nio$umask")
      val stockRenamed = populate(stockLocalFs(conf), stock.toString)
      val graftFs = new NioLocalFileSystem()
      graftFs.initialize(java.net.URI.create("file:///"), conf)
      assert(populate(graftFs, nio.toString) == stockRenamed)
      val (s, n) = (tree(stock), tree(nio))
      assert(n == s, s"umask $umask")
      assert(s("d755")._1 == 0x3ff, "the sticky bit was set")
      assert(s.contains(".g644.crc") && s.contains("d700/sub"))
      if (umask == "022") {
        assert(s("f666")._1 == Integer.parseInt("644", 8))
        assert(s("d777/sub")._1 == Integer.parseInt("755", 8))
      }
    }
  }

  test("NioLocalFileSystem.getFileLinkStatus equals the stock one on a " +
       "file, a directory, a symlink, a dangling symlink and a missing " +
       "path") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FileStatus, FileSystem, Path,
      RawLocalFileSystem}
    import graft.sources.{NioLocalFileSystem, NioRawLocalFileSystem}
    val dir = java.nio.file.Files.createTempDirectory("graft-fs-links")
    val file = java.nio.file.Files.write(dir.resolve("f"),
      "12345".getBytes("UTF-8"))
    java.nio.file.Files.createDirectory(dir.resolve("d"))
    java.nio.file.Files.createSymbolicLink(dir.resolve("link"), file)
    java.nio.file.Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("nowhere"))
    def view(st: FileStatus): Seq[Any] =
      Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
        if (st.isSymlink) st.getSymlink else null, st.getPermission,
        st.getOwner, st.getGroup, st.getModificationTime)
    def probe(fs: FileSystem, p: Path): Either[String, Seq[Any]] =
      try Right(view(fs.getFileLinkStatus(p)))
      catch { case e: java.io.IOException => Left(e.getClass.getName) }
    val conf = new Configuration()
    def init(fs: FileSystem): FileSystem = {
      fs.initialize(java.net.URI.create("file:///"), conf); fs
    }
    val pairs = Seq(
      init(new RawLocalFileSystem()) -> init(new NioRawLocalFileSystem()),
      stockLocalFs(conf) -> init(new NioLocalFileSystem()))
    for ((stock, nio) <- pairs;
         name <- Seq("f", "d", "link", "dangling", "missing");
         p <- Seq(new Path(dir.resolve(name).toString),
                  new Path(dir.resolve(name).toUri))) {
      assert(probe(nio, p) == probe(stock, p), s"$name as $p")
    }
    // the cases are what they claim to be on the stock side
    val raw = pairs.head._1
    def at(name: String) = new Path(dir.resolve(name).toString)
    assert(raw.getFileLinkStatus(at("link")).isSymlink)
    assert(raw.getFileLinkStatus(at("dangling")).isSymlink)
    assert(raw.getFileLinkStatus(at("d")).isDirectory)
    assert(probe(raw, at("missing")) ==
      Left(classOf[java.io.FileNotFoundException].getName))
  }

  test("NioLocalFs behind Spark's checkpoint manager leaves the stock " +
       "LocalFs's files, modes and .crc files") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.checkpointing
      .CheckpointFileManager
    val root = java.nio.file.Files.createTempDirectory("graft-fs-ckpt")
    def run(conf: Configuration, base: java.nio.file.Path): Unit = {
      val dir = new Path(base.resolve("offsets").toUri)
      val cm = CheckpointFileManager.create(dir, conf)
      assert(cm.getClass.getSimpleName ==
        "FileContextBasedCheckpointFileManager")
      cm.mkdirs(dir)
      def write(name: String, body: String): Unit = {
        val out = cm.createAtomic(new Path(dir, name),
          overwriteIfPossible = true)
        out.write(body.getBytes("UTF-8"))
        out.close()
      }
      write("0", "v1\n{\"batchId\":0}\n")
      write("1", "v1\n{\"batchId\":1}\n")
      write("0", "v1\n{\"batchId\":0,\"retry\":true}\n") // rename over
      write("2", "v1\n{\"batchId\":2}\n")
      cm.delete(new Path(dir, "1"))
      assert(cm.list(dir).map(_.getPath.getName).sorted.toSeq ==
        Seq("0", "2"))
      assert(cm.exists(new Path(dir, "2")) &&
        !cm.exists(new Path(dir, "1")))
    }
    val stockConf = new Configuration()
    val nioConf = new Configuration()
    nioConf.set("fs.AbstractFileSystem.file.impl",
      classOf[graft.sources.NioLocalFs].getName)
    run(stockConf, root.resolve("stock"))
    run(nioConf, root.resolve("nio"))
    val (s, n) = (tree(root.resolve("stock")), tree(root.resolve("nio")))
    assert(n == s)
    assert(s.keySet == Set("offsets", "offsets/0", "offsets/2",
      "offsets/.0.crc", "offsets/.2.crc"), s.keySet.toString)
  }

  test("the local session serves file:// through the NIO file system: " +
       "no chmod or readlink process on a parquet overwrite or a " +
       "checkpointed gated micro-batch") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FileContext, FileSystem, Path,
      RawLocalFileSystem}
    import org.apache.hadoop.fs.permission.FsPermission
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Pipeline
    import graft.sources.{NioLocalFileSystem, NioLocalFs}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val root = java.net.URI.create("file:///")
    // FileSystem.get answers from Hadoop's cache, keyed by scheme,
    // authority and user — not by class. A stock instance resolved
    // before the session existed would be served here, and to every
    // Spark write, without a word.
    for (conf <- Seq(s.sessionState.newHadoopConf(),
                     s.sparkContext.hadoopConfiguration))
      assert(FileSystem.get(root, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, s.sessionState.newHadoopConf())
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val base = java.nio.file.Files.createTempDirectory("graft-fs-spawns")
    val canary = java.nio.file.Files.createFile(base.resolve("canary"))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val t = base.resolve("t").toString
      s.range(0, 100).write.parquet(t)
      s.range(0, 50).write.mode("overwrite").parquet(t)
      val qdir = base.resolve("quarantine").toString
      val input = MemoryStream[(Long, Long)]
      val q = Pipeline.startStream(input.toDS().toDF("k", "v"),
        Pipeline.parse(
          s"""[{"op": "expect_condition",
             |  "params": {"condition": "v > 0", "name": "v_pos",
             |             "quarantine_path": "$qdir"}}]""".stripMargin) :+
          Pipeline.Step("write_stream_parquet",
            Map("path" -> base.resolve("survivors").toString,
              "checkpoint" -> base.resolve("ckpt").toString)))
      input.addData((1L, 5L), (2L, -1L))
      q.processAllAvailable()
      q.stop()
      assert(s.read.parquet(base.resolve("survivors").toString).count() == 1)
      // the recording does catch such starts: the stock raw file
      // system starts one chmod here (none where libhadoop loads)
      val stock = new RawLocalFileSystem()
      stock.initialize(root, new Configuration())
      stock.setPermission(new Path(canary.toString), new FsPermission("600"))
    } finally rec.stop()
    val dump = base.resolve("spawns.jfr")
    rec.dump(dump)
    rec.close()
    val fsStarts = jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
      .asScala.filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(_.getString("command"))
      .filter(c => Set("chmod", "readlink")(
        c.split(' ').head.split('/').last))
    val expected =
      if (org.apache.hadoop.io.nativeio.NativeIO.isAvailable) 0 else 1
    assert(fsStarts.size == expected &&
      fsStarts.forall(_.contains(canary.toString)), fsStarts.mkString("\n"))
  }

  test("graft's own FileSystem lookups see Hadoop options set only on " +
       "the session, as Spark's reads and writes of the same paths do") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.graftext.PslRules
    import graft.operators.Pipeline
    import graft.sources.{Layout, Warc}
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val scheme = "graftsession"
    s.conf.set(s"fs.$scheme.impl", classOf[SessionSchemeFileSystem].getName)
    // uncached: an instance a session-conf lookup made must not answer
    // a later lookup that lacks the option
    s.conf.set(s"fs.$scheme.impl.disable.cache", "true")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-session-fs")
      def at(name: String): String = s"$scheme://$dir/$name"
      assertThrows[org.apache.hadoop.fs.UnsupportedFileSystemException](
        new Path(at("x")).getFileSystem(s.sparkContext.hadoopConfiguration))
      // PslRules.load
      java.nio.file.Files.write(dir.resolve("psl.dat"),
        "com\nco.uk\n".getBytes("UTF-8"))
      assert(PslRules.load(s, at("psl.dat"))
        .registrableOf("a.b.co.uk") == "b.co.uk")
      // Layout.compact
      s.range(0, 300).repartition(6).write.parquet(at("compact"))
      assert(Layout.compact(s, at("compact")) == ((6, 1)))
      assert(s.read.parquet(at("compact")).count() == 300)
      // Layout.applyChangesBucketed dropping an emptied bucket
      val snap = at("snap")
      Layout.writeBucketedSnapshot(
        (0L until 40L).map(i => (i, i * 10)).toDF("id", "v"),
        snap, Seq("id"), 4)
      val b0 = s.read.parquet(snap).filter("__bucket = 0")
        .select("id").as[Long].collect()
      assert(b0.nonEmpty)
      Layout.applyChangesBucketed(s, snap,
        b0.toSeq.map(i => (i, 0L, 1L, "delete")).toDF("id", "v", "seq", "op"),
        Seq("id"), 4)
      assert(!java.nio.file.Files.exists(dir.resolve("snap/__bucket=0")))
      assert(s.read.parquet(snap).count() == 40 - b0.length)
      // Pipeline.clearBatchTable
      s.range(3).write.parquet(at("quarantine/batch=4"))
      Pipeline.clearBatchTable(s, at("quarantine"), 4L)
      assert(!java.nio.file.Files.exists(dir.resolve("quarantine/batch=4")))
      // Warc.readWarcGz lists and opens the files
      java.nio.file.Files.write(dir.resolve("a.warc.gz"),
        gz(warcRecBytes("response", "one".getBytes)))
      assert(Warc.readWarcGz(s, Seq(at("a.warc.gz"))).count() == 1)
      // the merge_stream_snapshot sink's swap of the merged snapshot
      val cdc = at("cdc")
      Seq((1L, "a", 10, 0L), (2L, "b", 20, 0L)).toDF("id", "s", "v", "seq")
        .coalesce(1).write.parquet(cdc)
      val input = MemoryStream[CdcChg]
      val q = Pipeline.startStream(input.toDF(), Seq(Pipeline.Step(
        "merge_stream_snapshot", Map("snapshot_path" -> cdc,
          "checkpoint" -> dir.resolve("ckpt").toString,
          "key_cols" -> Seq("id")))))
      input.addData(CdcChg(2, 1, "upsert", "b2", 21),
        CdcChg(1, 1, "delete", null, 0))
      q.processAllAvailable()
      q.stop()
      assert(s.read.parquet(cdc).select("id", "s").as[(Long, String)]
        .collect().toSeq == Seq((2L, "b2")))
    } finally {
      s.conf.unset(s"fs.$scheme.impl")
      s.conf.unset(s"fs.$scheme.impl.disable.cache")
    }
  }
}

/** `file://` under the scheme `graftsession`, for specs that configure
  * a file system on the session only. */
class SessionSchemeFileSystem extends graft.sources.NioRawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftsession:///")
  override def getScheme: String = "graftsession"
}
