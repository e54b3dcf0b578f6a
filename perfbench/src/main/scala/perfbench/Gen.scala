package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every row is a pure function of (seed, row
  * index), so generation runs in parallel over `spark.range` and the
  * same seed gives byte-identical inputs whatever the partitioning. */
object Gen {

  /** splitmix64 finaliser: decorrelates (seed, index) pairs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), i))

  /** Long-tailed count: 1 + floor(scale * (u^(-1/alpha) - 1)), capped. */
  def tail(r: SplittableRandom, scale: Double, alpha: Double, cap: Int): Int = {
    val u = 1.0 - r.nextDouble() // (0, 1]
    math.min(cap, 1 + (scale * (math.pow(u, -1.0 / alpha) - 1.0)).toInt)
  }

  private val letters = "abcdefghijklmnopqrstuvwxyz"

  def word(r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val n = minLen + r.nextInt(maxLen - minLen + 1)
    val sb = new StringBuilder(n)
    var k = 0
    while (k < n) { sb += letters.charAt(r.nextInt(26)); k += 1 }
    sb.result()
  }

  // ---------------------------------------------------------------- corpus

  /** Planted document kinds of the curation corpus. */
  final val Base = 0       // a fresh document; survives curation
  final val Exact = 1      // exact copy of a base doc (half NFKC-equivalent)
  final val Near = 2       // copy of a base doc with 1-3 tokens replaced
  final val Short = 3      // fewer than 20 tokens; filtered
  final val Repetitive = 4 // one short phrase repeated; filtered

  val KindNames: Seq[String] = Seq("base", "exact_dup", "near_dup",
    "short", "repetitive")

  /** Planted shares of the non-base kinds (the rest are base docs). */
  val Shares: Seq[(Int, Double)] = Seq(Exact -> 0.08, Near -> 0.06,
    Short -> 0.05, Repetitive -> 0.04)

  val Sources: Seq[String] = Seq("web", "books", "code", "news", "forum")

  final case class Doc(doc_id: Long, text: String, source: String)

  /** What the generator knows about document `i`. `root` is the base
    * document a copy was made from (the doc itself for a base doc). */
  final case class Meta(docId: Long, kind: Int, root: Int)

  /** The corpus definition: `n` documents over a Zipfian vocabulary. */
  final class Corpus(val seed: Long, val n: Int, vocabSize: Int = 20000,
                     zipfS: Double = 1.0) extends Serializable {
    /** Frequent words are short, as in natural text (rank 0 has two or
      * three letters, the rarest up to twelve), so no repeated n-gram of
      * top words can dominate a document's characters. */
    private val vocab: Array[String] = {
      val r = rng(seed, 1, 0)
      Array.tabulate(vocabSize) { k =>
        val len = 2 + math.min(9, (math.log(k + 1.0) / math.log(3.0)).toInt)
        word(r, len, len + 1)
      }
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocabSize)(k => 1.0 / math.pow(k + 1, zipfS))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }

    private def draw(r: SplittableRandom): String = {
      val u = r.nextDouble()
      var lo = 0
      var hi = cdf.length - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      vocab(lo)
    }

    /** Bijective id: copies do not always sort after their originals. */
    def docId(i: Int): Long =
      ((i.toLong + (seed & 0xffffL)) * 0x9e3779b1L) & ((1L << 40) - 1)

    /** A seeded permutation of the document indices. */
    private def permutation(stream: Long): Array[Int] = {
      val r = rng(seed, stream, 0)
      val p = Array.range(0, n)
      var k = n - 1
      while (k > 0) {
        val j = r.nextInt(k + 1)
        val t = p(k); p(k) = p(j); p(j) = t
        k -= 1
      }
      p
    }

    // Kinds and base lengths are dealt out by seeded permutations, so
    // every seed gets exactly the same kind counts and the same multiset
    // of lengths; only which document gets what, and the words, differ.
    private val kindRank = permutation(2)
    private val lengthRank = permutation(3)
    private val kindCuts: Seq[(Int, Int)] = {
      var acc = 0
      Shares.map { case (k, share) => acc += math.round(share * n).toInt; (k, acc) }
    }

    def kind(i: Int): Int =
      kindCuts.collectFirst { case (k, cut) if kindRank(i) < cut => k }
        .getOrElse(Base)

    /** Token count of a base document: 60 plus a Pareto tail (scale 120,
      * alpha 2.5, so about 140 on average), read at the document's
      * quantile rank. */
    def baseLength(i: Int): Int = {
      val q = (lengthRank(i) + 0.5) / n
      60 + math.min(1000, (120.0 * (math.pow(1.0 - q, -1.0 / 2.5) - 1.0)).toInt)
    }

    /** The base document a copy derives from: the first base doc at or
      * after a seeded position with at least 100 tokens, so an edit of
      * up to three tokens keeps every copy pair above Jaccard 0.5. */
    def root(i: Int): Int = kind(i) match {
      case Exact | Near =>
        var j = rng(seed, 4, i).nextInt(n)
        while (kind(j) != Base || baseLength(j) < 100) j = (j + 1) % n
        j
      case _ => i
    }

    def meta(i: Int): Meta = Meta(docId(i), kind(i), root(i))

    def baseTokens(i: Int): Array[String] = {
      val r = rng(seed, 5, i)
      Array.fill(baseLength(i))(draw(r))
    }

    def text(i: Int): String = kind(i) match {
      case Base => baseTokens(i).mkString(" ")
      case Exact =>
        val t = baseTokens(root(i)).mkString(" ")
        // NFKC folds fullwidth forms back to ASCII: a duplicate only the
        // normaliser can see
        if (rng(seed, 6, i).nextBoolean())
          t.map(c => if (c == 'e' || c == 'o') (c + 0xfee0).toChar else c)
        else t
      case Near =>
        val toks = baseTokens(root(i))
        val r = rng(seed, 6, i)
        val edits = 1 + r.nextInt(3)
        (0 until edits).foreach { e =>
          // a token no other document has, so no two copies collide
          toks(r.nextInt(toks.length)) = s"zq${i}x$e"
        }
        toks.mkString(" ")
      case Short =>
        val r = rng(seed, 5, i)
        Array.fill(3 + r.nextInt(17))(draw(r)).mkString(" ")
      case _ => // Repetitive
        val r = rng(seed, 5, i)
        val phrase = Array.fill(4 + r.nextInt(5))(draw(r)).mkString(" ")
        Array.fill(12 + r.nextInt(30))(phrase).mkString(" ")
    }

    def doc(i: Int): Doc =
      Doc(docId(i), text(i), Sources(rng(seed, 7, i).nextInt(Sources.size)))

    /** Documents `from until until` as a DataFrame, generated in parallel. */
    def frame(spark: SparkSession, from: Int, until: Int,
              parts: Int): DataFrame = {
      import spark.implicits._
      val self = this
      spark.range(from, until, 1, parts).as[Long]
        .map(i => self.doc(i.toInt)).toDF()
    }

    /** Expected curation survivors: every duplicate family keeps its
      * smallest id; short and repetitive docs never survive. */
    def expectedSurvivors(metas: Seq[Meta]): Set[Long] =
      metas.filter(m => m.kind <= Near).groupBy(_.root)
        .values.map(_.map(_.docId).min).toSet
  }

  // ---------------------------------------------------------------- nested

  final case class Leaf(a: String, b: Double)
  final case class Part(code: String, weight: Double, leaf: Leaf)
  final case class Item(label: String, qty: Int, parts: Seq[Part])
  final case class Geo(lat: Double, lon: Double)
  final case class Info(city: String, geo: Geo, items: Seq[Item])
  final case class Source(src: String, rank: Int)
  final case class Prop(w: Double, note: String)
  final case class NestedRow(id: Long, name: String, score: Double,
                             c0: String, c1: String, c2: String,
                             c3: String, d0: Double, d1: Double,
                             d2: Double, d3: Double, tags: Seq[String],
                             info: Info, meta: Source,
                             grid: Seq[Seq[Double]],
                             props: Map[String, Prop])

  /** Words the nested strings draw from (a pool, so generation costs
    * little; parquet dictionary-encodes them as it would real labels). */
  def wordPool(seed: Long): Array[String] = {
    val r = rng(seed, 9, 0)
    Array.fill(4096)(word(r, 2, 10))
  }

  /** One nested row: scalar roots, a struct -> array<struct> ->
    * array<struct> -> struct chain, a doubly nested array and a map of
    * structs, with long-tailed array lengths. */
  def nestedRow(seed: Long, pool: Array[String], i: Long): NestedRow = {
    val r = rng(seed, 10, i)
    def s() = pool(r.nextInt(pool.length))
    def d() = r.nextDouble() * 200.0 - 100.0
    val items = Seq.fill(tail(r, 1.5, 1.4, 40) - 1) {
      val parts = Seq.fill(tail(r, 1.2, 1.4, 24) - 1)(
        Part(s(), d(), Leaf(s(), d())))
      Item(s(), r.nextInt(2001) - 1000, parts)
    }
    val grid = Seq.fill(tail(r, 1.0, 1.5, 12) - 1)(
      Seq.fill(tail(r, 2.0, 1.5, 16) - 1)(d()))
    val props = (0 until tail(r, 1.0, 1.5, 8) - 1)
      .map(k => s"k$k" -> Prop(d(), s())).toMap
    NestedRow(i, s() + " " + s(), d(), s(), s(), s() + " " + s(), s(),
      d(), d(), d(), d(), Seq.fill(tail(r, 1.0, 1.5, 16) - 1)(s()),
      Info(" " + s() + " ", Geo(d(), d()), items),
      Source(s(), r.nextInt(1000)), grid, props)
  }

  def nestedFrame(spark: SparkSession, seed: Long, rows: Long,
                  parts: Int): DataFrame = {
    import spark.implicits._
    val pool = wordPool(seed)
    spark.range(0, rows, 1, parts).as[Long]
      .map(i => nestedRow(seed, pool, i)).toDF()
  }
}
