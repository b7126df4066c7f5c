package perfbench

import scala.util.Random

/** Seeded inputs. Everything the engine receives in a run (corpus, deltas,
  * query streams) is a pure function of the workload seed and the sizes
  * below; nothing is read from outside the checkout.
  *
  * Corpus shape, by construction rather than from a measured corpus: a
  * 30-word head vocabulary that every document draws 18 to 57 tokens from
  * (so each head term is in nearly every document and its posting list
  * spans many 128-posting blocks per segment), plus 2 to 7 tokens per
  * document from a tail vocabulary of pronounceable terms with Zipf's-law
  * frequencies (exponent 1: the frequency of rank r is proportional to
  * 1 / r), whose posting lists range from one posting to several blocks.
  * Block-max WAND skipping, dictionary expansion and typo correction all
  * do real work on it.
  */
final case class Doc(id: Long, text: String, source: String, lang: String)

final class Inputs(val seed: Long, val nDocs: Int, val tailVocab: Int) {
  import Inputs._

  /** Tail term of Zipf rank r (0 = most frequent). Three or four syllables
    * from a seeded permutation, so prefixes, globs and one-edit typos of
    * tail terms expand to tens or hundreds of dictionary terms.
    */
  val tail: IndexedSeq[String] = {
    val rnd = new Random(seed * 31 + 7)
    val seen = new java.util.HashSet[String]()
    val out = IndexedSeq.newBuilder[String]
    while (seen.size < tailVocab) {
      val n = if (rnd.nextInt(4) == 0) 4 else 3
      val t = (0 until n).map(_ => Syllables(rnd.nextInt(Syllables.length))).mkString
      if (!Head.contains(t) && seen.add(t)) out += t
    }
    out.result()
  }

  private val zipf = new Zipf(tailVocab, 1.0)

  private def docText(rnd: Random): String = {
    val sb = new java.lang.StringBuilder(400)
    val nHead = 18 + rnd.nextInt(40)
    var i = 0
    while (i < nHead) {
      if (i > 0) sb.append(' ')
      sb.append(Head(rnd.nextInt(Head.length)))
      i += 1
    }
    val nTail = 2 + rnd.nextInt(6)
    i = 0
    while (i < nTail) { sb.append(' ').append(tail(zipf.draw(rnd))); i += 1 }
    sb.toString
  }

  private def doc(id: Long, rnd: Random, extra: String = ""): Doc =
    Doc(id, docText(rnd) + extra, s"src${id % 7}", Langs(rnd.nextInt(Langs.length)))

  lazy val corpus: IndexedSeq[Doc] = {
    val rnd = new Random(seed)
    (0 until nDocs).map(i => doc(i.toLong, rnd))
  }

  /** Marker term carried by every doc of delta `i`; querying it shows when
    * the delta became visible.
    */
  def marker(i: Int): String = s"zmark${seed.abs}x$i"

  /** Delta `i`: `size` new docs with ids above the base corpus. */
  def delta(i: Int, size: Int): IndexedSeq[Doc] = {
    val rnd = new Random(seed * 1009 + i)
    val base = DeltaIdBase + i.toLong * DeltaIdStride
    (0 until size).map(j => doc(base + j, rnd, " " + marker(i)))
  }

  private def rareTail(rnd: Random): String = tail(tailVocab / 2 + rnd.nextInt(tailVocab / 2))
  private def midTail(rnd: Random): String = tail(10 + rnd.nextInt(math.max(1, tailVocab / 20)))
  private def head(rnd: Random): String = Head(rnd.nextInt(Head.length))

  private def typo(t: String, rnd: Random): String = {
    val p = rnd.nextInt(t.length)
    rnd.nextInt(3) match {
      case 0 => t.substring(0, p) + t.substring(p + 1)                     // deletion
      case 1 => t.substring(0, p) + ('a' + rnd.nextInt(26)).toChar + t.substring(p + 1) // substitution
      case _ => t.substring(0, p) + ('a' + rnd.nextInt(26)).toChar + t.substring(p) // insertion
    }
  }

  /** One keyword query of a `q=` family. */
  def keywordQuery(family: String, rnd: Random): String = family match {
    case "and" => s"${head(rnd)} ${head(rnd)} ${midTail(rnd)}"
    case "or" => s"${head(rnd)} OR ${midTail(rnd)} ${midTail(rnd)}"
    case "not" => s"${head(rnd)} ${midTail(rnd)} -${head(rnd)}"
    case _ => s"${rareTail(rnd)} ${head(rnd)}" // rare-anchored
  }

  /** Mostly-distinct mixed request stream (serve-mixed): `n` requests.
    * The stream is made of blocks of ten requests, each holding every
    * family once in a seeded order, so any window of it has nearly the same
    * mix: a window's latency or throughput does not swing with how many of
    * the costly families it drew.
    */
  def mixedStream(n: Int, streamSeed: Long): IndexedSeq[Request] = {
    val rnd = new Random(seed * 7919 + streamSeed)
    val docs = corpus
    val families = Iterator.continually(rnd.shuffle(Families)).flatten.take(n).toIndexedSeq
    families.map { family =>
      family match {
        case "phrase" =>
          val toks = docs(rnd.nextInt(docs.length)).text.split(' ')
          val p = rnd.nextInt(toks.length - 2)
          Request(family, "/search", "phrase", s"${toks(p)} ${toks(p + 1)} ${toks(p + 2)}")
        case "prefix" => Request(family, "/search", "prefix", midTail(rnd).take(3))
        case "wildcard" =>
          val t = midTail(rnd)
          Request(family, "/search", "wildcard", if (rnd.nextBoolean()) t.take(2) + "*" + t.takeRight(1) else "*" + t.takeRight(3))
        case "fuzzy" => Request(family, "/search", "fuzzy", typo(midTail(rnd), rnd))
        case "suggest" => Request(family, "/suggest", "q", midTail(rnd).take(2 + rnd.nextInt(2)))
        case "didyoumean" =>
          Request(family, "/didyoumean", "q", s"${typo(midTail(rnd), rnd)} ${typo(head(rnd), rnd)}")
        case f => Request(f, "/search", "q", keywordQuery(f, rnd))
      }
    }
  }

  /** Fixed-size seeded keyword batch for the distributed tier. */
  def batchQueries(n: Int, batchSeed: Long): IndexedSeq[String] = {
    val rnd = new Random(seed * 65537 + batchSeed)
    val fams = Seq("and", "or", "not", "rare")
    (0 until n).map(i => keywordQuery(fams(i % fams.size), rnd))
  }
}

/** One HTTP request of a stream: `family` labels it for per-family tables. */
final case class Request(family: String, path: String, param: String, value: String) {
  /** A `q=` keyword search: the in-memory batch tier answers these. */
  def isKeyword: Boolean = path == "/search" && param == "q"
  def uri: String =
    if (param.isEmpty) path
    else s"$path?$param=${java.net.URLEncoder.encode(value, "UTF-8")}&k=10"
}

object Inputs {
  val Head: IndexedSeq[String] = IndexedSeq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "hash", "slow", "group", "agg", "filter", "query", "big", "key", "window",
    "row", "table", "stream", "merge", "data", "join", "vector", "customer", "index", "shard")
  val Syllables: IndexedSeq[String] =
    for (c <- "bdfgklmnprstvz".map(_.toString); v <- Seq("a", "e", "i", "o", "u")) yield c + v
  val Langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "de", "fr", "zh")
  val DeltaIdBase = 1000000000L
  val DeltaIdStride = 1000000L
  /** Request families of serve-mixed, drawn with equal shares so every
    * per-family metric gets the same number of samples.
    */
  val Families: IndexedSeq[String] = Metrics.Families.toIndexedSeq
}

/** Zipf(s) sampler over ranks [0, n): cumulative weights + binary search. */
final class Zipf(n: Int, s: Double) {
  private val cum: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1, s); a(i) = acc; i += 1 }
    a
  }
  def draw(rnd: Random): Int = {
    val x = rnd.nextDouble() * cum(n - 1)
    var lo = 0
    var hi = n - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cum(mid) < x) lo = mid + 1 else hi = mid }
    lo
  }
}
