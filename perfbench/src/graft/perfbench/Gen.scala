package graft.perfbench

/** Seeded, index-addressable input generators.
  *
  * Every generated value is a pure function of `(seed, stream, index)`, so
  * Spark tasks (which build the input frames) and the driver-side reference
  * computations (which check the outputs) derive identical inputs without
  * shipping any data. Shapes follow the sf0.1 TPC-H-style tables the graft
  * gates run on: 15,000 customer keys, 600k lineitem rows, and a
  * documents corpus drawn from the same small technical vocabulary.
  */
object Gen {

  /** SplitMix64 finalizer. */
  def mix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, stream: Int, i: Long): Long =
    mix64(mix64(seed * 0x632be59bd9b4e019L + stream) ^ i)

  /** Uniform in [0, 1). */
  def unit(seed: Long, stream: Int, i: Long): Double =
    (hash(seed, stream, i) >>> 11) * (1.0 / (1L << 53))

  /** Uniform in [0, n). */
  def below(seed: Long, stream: Int, i: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(hash(seed, stream, i), n.toLong).toInt

  /** A stride coprime to `n`: `p -> (stride * p + offset) mod n` is then a
    * seeded permutation of [0, n).
    */
  def coprimeStride(seed: Long, stream: Int, n: Long): Long = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    var s = 1 + java.lang.Long.remainderUnsigned(hash(seed, stream, 0), n)
    while (gcd(s, n) != 1) s = 1 + s % n
    s
  }

  def permute(seed: Long, stream: Int, n: Long, p: Long): Long = {
    val off = java.lang.Long.remainderUnsigned(hash(seed, stream, 1), n)
    java.lang.Math.floorMod(coprimeStride(seed, stream, n) * p + off, n)
  }

  // streams: one per independent random quantity
  private final val SNation = 1
  private final val SAcct = 2
  private final val SSegment = 3
  private final val SUniformKey = 10
  private final val SUnknown = 11
  private final val SUnknownKey = 12
  private final val SZipf = 13
  private final val SZipfPerm = 14
  private final val SFlaky = 15
  private final val SLinePerm = 20
  private final val SLineField = 21
  private final val SDocLen = 30
  private final val SDocWord = 31
  private final val SDupSource = 32
  private final val SDupEdit = 33
  private final val SDupWord = 34

  // ---- customer ----------------------------------------------------------

  val CustomerKeys = 15000
  val UnknownKeys = 1000
  val Segments: Array[String] =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  final case class Customer(
      key: Long,
      name: String,
      nation: Int,
      acctbal: Double,
      segment: String)

  def customer(seed: Long, k: Long): Customer =
    Customer(
      k,
      f"Customer#$k%09d",
      below(seed, SNation, k, 25),
      (below(seed, SAcct, k, 1100000) - 100000) / 100.0,
      Segments(below(seed, SSegment, k, Segments.length)))

  /** The lookup service's response body for a known key. */
  def customerJson(c: Customer): String =
    s"""{"c_custkey":${c.key},"c_name":"${c.name}","c_nationkey":${c.nation},""" +
      s""""c_acctbal":${c.acctbal},"c_mktsegment":"${c.segment}"}"""

  // ---- lookup probes -----------------------------------------------------

  def uniformKey(seed: Long, i: Long): Long =
    below(seed, SUniformKey, i, CustomerKeys).toLong

  val ZipfS = 1.1
  val UnknownShare = 0.05

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(CustomerKeys)(r => 1.0 / math.pow(r + 1.0, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / total }
  }

  /** Zipf rank (0 = hottest) for a uniform draw `u`. */
  def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, CustomerKeys - 1)
  }

  /** ~5% unknown keys (answered 404), else a Zipf(1.1) draw over the
    * customer keys with a seeded rank-to-key permutation.
    */
  def skewedKey(seed: Long, i: Long): Long =
    if (unit(seed, SUnknown, i) < UnknownShare)
      CustomerKeys + below(seed, SUnknownKey, i, UnknownKeys).toLong
    else
      permute(seed, SZipfPerm, CustomerKeys, zipfRank(unit(seed, SZipf, i)).toLong)

  val FlakyShare = 0.01

  /** Known keys whose first request per run answers 503. */
  def flaky(seed: Long, k: Long): Boolean =
    k >= 0 && k < CustomerKeys && unit(seed, SFlaky, k) < FlakyShare

  // ---- lineitem ----------------------------------------------------------

  val LineitemRows = 600000
  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatus = Array("F", "O")
  private val FirstShipDay = 8036 // 1992-01-02

  final case class LineItem(
      orderkey: Long,
      partkey: Long,
      suppkey: Long,
      linenumber: Int,
      quantity: Double,
      extendedprice: Double,
      discount: Double,
      tax: Double,
      returnflag: String,
      linestatus: String,
      shipday: Int)

  /** Row at position `p` of the seeded permutation of `n` lineitems. */
  def lineitemAt(seed: Long, n: Long, p: Long): LineItem = {
    val j = permute(seed, SLinePerm, n, p)
    def f(k: Int, m: Int): Int = below(seed, SLineField + k * 1000, j, m)
    LineItem(
      orderkey = 1 + j / 4,
      partkey = 1 + f(0, 20000),
      suppkey = 1 + f(1, 1000),
      linenumber = 1 + (j % 4).toInt,
      quantity = 1 + f(2, 50),
      extendedprice = (90000 + f(3, 10000000)) / 100.0,
      discount = f(4, 11) / 100.0,
      tax = f(5, 9) / 100.0,
      returnflag = ReturnFlags(f(6, ReturnFlags.length)),
      linestatus = LineStatus(f(7, LineStatus.length)),
      shipday = FirstShipDay + f(8, 2526))
  }

  /** Order-independent identity of one lineitem's field values. */
  def lineitemHash(l: LineItem): Long = {
    var h = mix64(l.orderkey)
    def add(v: Long): Unit = h = mix64(h ^ v)
    add(l.partkey); add(l.suppkey); add(l.linenumber.toLong)
    add(java.lang.Double.doubleToLongBits(l.quantity))
    add(java.lang.Double.doubleToLongBits(l.extendedprice))
    add(java.lang.Double.doubleToLongBits(l.discount))
    add(java.lang.Double.doubleToLongBits(l.tax))
    add(l.returnflag.hashCode.toLong); add(l.linestatus.hashCode.toLong)
    add(l.shipday.toLong)
    h
  }

  // ---- documents ---------------------------------------------------------

  val Vocabulary: Array[String] = ("a agg batch big column customer data " +
    "fast filter group hash join key line merge order part query row scan " +
    "slow small sort spark stream table the value vector window").split(" ")

  /** Substitution rates of the planted near-duplicates, cycled. At 3-word
    * shingles the lower rates land above jaccard 0.5, the higher below.
    */
  val EditRates: Array[Double] = Array(0.02, 0.05, 0.08, 0.12, 0.2, 0.3)

  final case class Corpus(texts: Array[String], planted: Array[(Int, Int)])

  /** `n` documents; the last `n / 10` are near-duplicates of earlier ones,
    * each copy substituting words at one of [[EditRates]]. `planted` holds
    * the (source, copy) id pairs.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val copies = n / 10
    val base = n - copies
    val words = Array.tabulate(base) { d =>
      Array.tabulate(20 + below(seed, SDocLen, d, 70)) { w =>
        Vocabulary(below(seed, SDocWord, d.toLong * 1000 + w, Vocabulary.length))
      }
    }
    val planted = Array.tabulate(copies)(c => below(seed, SDupSource, c, base) -> (base + c))
    val copyWords = planted.zipWithIndex.map { case ((src, _), c) =>
      val rate = EditRates(c % EditRates.length)
      words(src).zipWithIndex.map { case (w, k) =>
        val at = c.toLong * 1000 + k
        if (unit(seed, SDupEdit, at) < rate)
          Vocabulary(below(seed, SDupWord, at, Vocabulary.length))
        else w
      }
    }
    Corpus((words ++ copyWords).map(_.mkString(" ")), planted)
  }

  private def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  /** Exact jaccard of two texts' distinct word-3-gram sets, as a rational
    * (intersection, union).
    */
  def shingleJaccard(a: String, b: String): (Int, Int) = {
    val (sa, sb) = (shingles(a), shingles(b))
    val inter = (sa intersect sb).size
    (inter, sa.size + sb.size - inter)
  }

  /** Every id pair `(a < b)` whose distinct word-3-gram sets have jaccard
    * at least 0.5, by exact overlap counting over an inverted index.
    */
  def jaccardPairs(texts: Array[String]): Set[(Int, Int)] = {
    val sets = texts.map(shingles)
    val postings = collection.mutable.HashMap.empty[String, collection.mutable.ArrayBuffer[Int]]
    sets.zipWithIndex.foreach { case (s, d) =>
      s.foreach(sh => postings.getOrElseUpdate(sh, collection.mutable.ArrayBuffer.empty) += d)
    }
    val overlap = collection.mutable.HashMap.empty[(Int, Int), Int]
    postings.valuesIterator.foreach { ds =>
      for (i <- ds.indices; j <- i + 1 until ds.length) {
        val k = (ds(i), ds(j))
        overlap(k) = overlap.getOrElse(k, 0) + 1
      }
    }
    overlap.iterator.collect {
      case ((a, b), inter) if 2 * inter >= sets(a).size + sets(b).size - inter => (a, b)
    }.toSet
  }
}
