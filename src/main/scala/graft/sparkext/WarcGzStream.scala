package org.apache.spark.sql.graftext

import java.io.{ByteArrayOutputStream, InputStream, PushbackInputStream}
import java.util.zip.{CRC32, DataFormatException, Inflater}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Streaming `.warc.gz` record extraction — the scale-correct form of
  * [[GunzipBytes]] + [[WarcRecordsBytes]]: instead of materializing
  * the WHOLE decompressed archive as one JVM array (capped at ~2 GiB;
  * a standard ~1 GiB CommonCrawl shard decompresses past it) and then
  * re-slicing it into a full record array, gzip members inflate ONE
  * AT A TIME through a bounded buffer and WARC records emit
  * incrementally as soon as their declared length completes.
  *
  * Memory bound per task: one gzip member + one in-progress record
  * (in the CommonCrawl one-record-per-member layout, ≈ one record),
  * independent of archive size — a 100 GiB decompressed archive
  * streams in the same footprint as a 1 MiB fixture.
  *
  * Semantics are IDENTICAL to the batch pair on their shared domain
  * (spec-pinned): members verify CRC32/ISIZE BEFORE their bytes reach
  * the record walk, so a corrupt / truncated / checksum-failing
  * member still contributes nothing and drops the whole tail from
  * that member on; the record walk applies [[WarcWalk]]'s exact
  * contract (length-driven, `WARC/` magic, `\r\n` separator pairs,
  * malformed tail drops) — re-stated incrementally so "truncated"
  * can mean "wait for the next member" until the member stream ends.
  * Records MAY span member boundaries and one member may carry many
  * records: the assembly buffer handles both (the general RFC 1952
  * concatenation, not just the one-record-per-member layout).
  */
object WarcGzRecords {

  /** One decompressed WARC record at a time from a raw `.warc.gz`
    * stream. The caller owns closing `in`. */
  def over(in: InputStream): Iterator[Array[Byte]] =
    new WarcGzRecordIterator(in)

  /** Spec/probe hook: the record iterator plus a live counter of
    * bytes moved by buffer compaction — the witness that a
    * many-records-per-member walk shifts O(member) bytes total, not
    * O(records × member). */
  def overWithShiftCounter(
      in: InputStream): (Iterator[Array[Byte]], () => Long) = {
    val it = new WarcGzRecordIterator(in)
    (it, () => it.shiftedBytes)
  }
}

/** RFC 1952 member walk over a stream: each `next()` is one member's
  * decompressed bytes, CRC32/ISIZE-verified before it is returned.
  * Iteration ends at clean EOF, at the first malformed header
  * (trailing non-gzip bytes end the walk cleanly), truncated deflate
  * stream, or failed trailer check — the same drop-tail contract as
  * [[GunzipBytes.compute]], member-streamed. */
private[graftext] final class GzipMemberIterator(raw: InputStream)
    extends Iterator[Array[Byte]] {

  private final val ChunkSize = 64 * 1024
  private val in = new PushbackInputStream(raw, ChunkSize)
  private var nextMember: Array[Byte] = _
  private var done = false

  override def hasNext: Boolean = {
    if (nextMember == null && !done) {
      nextMember = tryMember()
      if (nextMember == null) done = true
    }
    nextMember != null
  }

  override def next(): Array[Byte] = {
    if (!hasNext) throw new NoSuchElementException("GzipMemberIterator")
    val m = nextMember
    nextMember = null
    m
  }

  private def skipFully(n: Int): Boolean = {
    var left = n.toLong
    while (left > 0) {
      val k = in.skip(left)
      if (k > 0) left -= k
      else {
        // skip() may return 0 without EOF; fall back to read()
        if (in.read() < 0) return false
        left -= 1
      }
    }
    true
  }

  private def skipZeroTerminated(): Boolean = {
    var b = in.read()
    while (b > 0) b = in.read()
    b == 0
  }

  /** Null ends the walk — clean EOF and every corruption mode alike
    * (the drop-tail contract does not distinguish them). */
  private def tryMember(): Array[Byte] = {
    // RFC 1952 header: magic 1F 8B, CM = 8 (deflate), FLG, MTIME(4),
    // XFL, OS, then the FLG-gated optional fields
    val h0 = in.read()
    if (h0 < 0) return null // clean EOF at a member boundary
    if (h0 != 0x1F || in.read() != 0x8B || in.read() != 8) return null
    val flg = in.read()
    if (flg < 0 || !skipFully(6)) return null
    if ((flg & 0x04) != 0) { // FEXTRA
      val x0 = in.read(); val x1 = in.read()
      if (x1 < 0 || !skipFully(x0 | (x1 << 8))) return null
    }
    if ((flg & 0x08) != 0 && !skipZeroTerminated()) return null // FNAME
    if ((flg & 0x10) != 0 && !skipZeroTerminated()) return null // FCOMMENT
    if ((flg & 0x02) != 0 && !skipFully(2)) return null // FHCRC

    val inf = new Inflater(true) // raw deflate
    val crc = new CRC32()
    val out = new ByteArrayOutputStream(ChunkSize)
    val ibuf = new Array[Byte](ChunkSize)
    val obuf = new Array[Byte](ChunkSize)
    try {
      var ilen = 0
      while (!inf.finished()) {
        if (inf.needsInput()) {
          ilen = in.read(ibuf, 0, ChunkSize)
          if (ilen <= 0) return null // truncated deflate stream
          inf.setInput(ibuf, 0, ilen)
        }
        val n = inf.inflate(obuf)
        if (n > 0) { out.write(obuf, 0, n); crc.update(obuf, 0, n) }
        else if (inf.needsDictionary()) return null
      }
      // bytes past the deflate stream in the last chunk belong to the
      // trailer and the next member — hand them back
      val rem = inf.getRemaining
      if (rem > 0) in.unread(ibuf, ilen - rem, rem)
      val tr = new Array[Byte](8)
      var got = 0
      while (got < 8) {
        val n = in.read(tr, got, 8 - got)
        if (n <= 0) return null // missing trailer
        got += n
      }
      def le32(off: Int): Long =
        (tr(off) & 0xFFL) | ((tr(off + 1) & 0xFFL) << 8) |
          ((tr(off + 2) & 0xFFL) << 16) | ((tr(off + 3) & 0xFFL) << 24)
      if (le32(0) != crc.getValue ||
          le32(4) != (out.size().toLong & 0xFFFFFFFFL)) {
        null // checksum/length mismatch: bit-flipped member
      } else out.toByteArray
    } catch {
      case _: DataFormatException => null
    } finally inf.end()
  }
}

/** Incremental [[WarcWalk]]: records emit from an assembly buffer
  * that members append to. The walk rules are WarcWalk's exactly;
  * "incomplete" defers to the next member until members run out,
  * then drops the tail (the batch contract).
  *
  * The buffer is head-offset + amortized compaction: consuming a
  * record just advances `off`, and the live bytes shift to offset 0
  * only when the dead prefix exceeds half the capacity — so a
  * single gzip member carrying N records costs O(member) total
  * byte-shifting, not O(N × member) (each byte moves at most twice
  * per doubling epoch). Memory bound: one in-progress record plus
  * the member that completes it — for the single-member layout
  * (plain `gzip` of a whole `.warc`) the member IS the archive, so
  * that layout buffers the whole decompressed archive (inherent:
  * the member must inflate and CRC-verify before its bytes enter
  * the walk) and stays subject to the ~2 GiB JVM array cap. */
private[graftext] final class WarcGzRecordIterator(in: InputStream)
    extends Iterator[Array[Byte]] {

  private val members = new GzipMemberIterator(in)
  private var buf = new Array[Byte](64 * 1024)
  private var off = 0 // head of the live window (dead prefix before it)
  private var len = 0 // live bytes at buf(off..off+len)
  private var eof = false // member stream exhausted (or dropped)
  private var skipping = false // mid separator-skip after an emit
  private var dead = false // walk stopped: tail (if any) dropped
  private var pending: Array[Byte] = _
  /** Bytes moved by compaction/growth — spec hook proving the walk
    * is linear in member size, not quadratic in record count. */
  private[graftext] var shiftedBytes: Long = 0L

  private val Magic = "WARC/".getBytes("US-ASCII")
  private val ContentLength = java.util.regex.Pattern.compile(
    "(?mi)^Content-Length:\\s*([0-9]+)\\s*$")

  override def hasNext: Boolean = {
    while (pending == null && !dead) {
      step() match {
        case WarcGzRecordIterator.NeedMore =>
          if (members.hasNext) {
            if (!append(members.next())) dead = true
          } else eof = true
        case rec: Array[Byte] => pending = rec
        case _ => dead = true
      }
    }
    pending != null
  }

  override def next(): Array[Byte] = {
    if (!hasNext) throw new NoSuchElementException("WarcGzRecordIterator")
    val r = pending
    pending = null
    r
  }

  /** False when the member would push the buffer past the JVM array
    * cap — a record that large can never emit, so the walk stops
    * (drop-tail) instead of crashing on allocation. */
  private def append(m: Array[Byte]): Boolean = {
    if (len.toLong + m.length > Int.MaxValue - 8L) return false
    if (len.toLong + m.length > buf.length) {
      // live bytes don't fit even compacted: grow (copy compacts too)
      val want = math.min(
        math.max(buf.length.toLong * 2, len.toLong + m.length),
        Int.MaxValue - 8L).toInt
      val grown = new Array[Byte](want)
      System.arraycopy(buf, off, grown, 0, len)
      shiftedBytes += len
      buf = grown
      off = 0
    } else if (off.toLong + len + m.length > buf.length) {
      compact()
    }
    System.arraycopy(m, 0, buf, off + len, m.length)
    len += m.length
    true
  }

  private def compact(): Unit = {
    System.arraycopy(buf, off, buf, 0, len)
    shiftedBytes += len
    off = 0
  }

  /** Advance the head; shift bytes only when the dead prefix passes
    * half the capacity (amortized O(total-bytes) over the walk). */
  private def consume(n: Int): Unit = {
    off += n
    len -= n
    if (off > buf.length / 2) compact()
  }

  private def indexOfCrlfCrlf(): Int = {
    var i = off
    val end = off + len - 3
    while (i < end) {
      if (buf(i) == '\r' && buf(i + 1) == '\n' &&
          buf(i + 2) == '\r' && buf(i + 3) == '\n') return i - off
      i += 1
    }
    -1
  }

  /** One walk attempt from the buffer head: a record, NeedMore, or
    * null (stop — malformed, or incomplete at member-stream end). */
  private def step(): AnyRef = {
    if (skipping) {
      while (len >= 2 && buf(off) == '\r' && buf(off + 1) == '\n')
        consume(2)
      // A member boundary may land mid-separator: an empty buffer or
      // a lone '\r' cannot prove the skip is over, so hold the skip
      // state and ask for the next member (clearing it here made a
      // member that starts with "\r\n" fail the magic check and
      // silently drop every remaining record).
      if (len < 2 && !eof && (len == 0 || buf(off) == '\r'))
        return WarcGzRecordIterator.NeedMore
      skipping = false
    }
    if (len < Magic.length) { // incl. the empty buffer: clean end at
      return if (eof) null else WarcGzRecordIterator.NeedMore // eof
    }
    var i = 0
    while (i < Magic.length) {
      if (buf(off + i) != Magic(i)) return null // not a record: drop tail
      i += 1
    }
    val hdrEnd = indexOfCrlfCrlf()
    if (hdrEnd < 0) {
      return if (eof) null else WarcGzRecordIterator.NeedMore
    }
    val headers = new String(buf, off, hdrEnd,
      java.nio.charset.StandardCharsets.UTF_8)
    val m = ContentLength.matcher(headers)
    // the 18-digit cap keeps parseLong from throwing on an
    // adversarial 20+-digit length (the WarcWalk rule)
    if (!m.find() || m.group(1).length > 18) return null
    val cl = java.lang.Long.parseLong(m.group(1))
    val end = hdrEnd + 4 + cl
    if (cl < 0 || end > Int.MaxValue - 8L) return null
    if (end > len) {
      return if (eof) null else WarcGzRecordIterator.NeedMore
    }
    val rec = java.util.Arrays.copyOfRange(buf, off, off + end.toInt)
    consume(end.toInt)
    skipping = true
    rec
  }
}

private[graftext] object WarcGzRecordIterator {
  /** step() sentinel: the buffer holds an incomplete record and more
    * members may still complete it. */
  case object NeedMore
}

/** Spark-facing plumbing for the streaming reader — lives in this
  * package so executor tasks can ship the Hadoop configuration via
  * the `private[spark]` [[SerializableConfiguration]] broadcast
  * (local `new Configuration()` in a task would drop the cluster's
  * fs.defaultFS / object-store credentials). */
object WarcGzFiles {

  /** (path, rec_id, __rec) rows, one per WARC record, streamed from
    * `.warc.gz` files — ONE FILE PER TASK (gzip is not splittable;
    * at 100 TB the parallelism unit is the file, and CommonCrawl
    * shards at ~1 GiB). Files schedule largest-first so the long
    * poles start immediately instead of straggling the stage tail.
    *
    * `paths` accepts files, directories (non-recursive expansion),
    * and globs. Record extraction is [[WarcGzRecords]]: memory per
    * task stays bounded by one member + one record whatever the
    * archive size. */
  def recordRows(spark: SparkSession, paths: Seq[String],
                 pathCol: String = "path"): DataFrame = {
    val sc = spark.sparkContext
    val hconf = spark.sessionState.newHadoopConf()
    val files: Seq[(String, Long)] = paths.flatMap { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(hconf)
      val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq())
      matched.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
        else Seq(st)
      }
    }.map(st => (st.getPath.toString, st.getLen))
      .sortBy(-_._2)
    val schema = StructType(Seq(
      StructField(pathCol, StringType, nullable = false),
      StructField("rec_id", IntegerType, nullable = false),
      StructField("__rec", BinaryType, nullable = false)))
    if (files.isEmpty) {
      return spark.createDataFrame(sc.emptyRDD[Row], schema)
    }
    val bc = sc.broadcast(new SerializableConfiguration(hconf))
    val rdd = sc.parallelize(files.map(_._1), numSlices = files.size)
      .mapPartitions { it =>
        it.flatMap { pathStr =>
          val hp = new org.apache.hadoop.fs.Path(pathStr)
          val in = new java.io.BufferedInputStream(
            hp.getFileSystem(bc.value.value).open(hp))
          var closed = false
          def closeOnce(): Unit =
            if (!closed) { closed = true; in.close() }
          // a short-circuiting consumer (limit/take) or a task failure
          // never drains the iterator — close on task end regardless
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ => closeOnce()))
          val recs = WarcGzRecords.over(in).zipWithIndex
            .map { case (rec, i) => Row(pathStr, i, rec) }
          new Iterator[Row] {
            override def hasNext: Boolean = {
              val h = recs.hasNext
              if (!h) closeOnce()
              h
            }
            override def next(): Row = recs.next()
          }
        }
      }
    spark.createDataFrame(rdd, schema)
  }
}
