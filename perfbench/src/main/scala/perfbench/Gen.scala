package perfbench

import scala.collection.mutable
import scala.util.Random

/** Properties of a generated narrative corpus that the measured layers
  * depend on: cleaning cost follows narrative length and noise rates,
  * sampling and training follow merchant count and skew, and the dedup
  * index follows the near-duplicate share. */
final case class GenParams(
    merchants: Int,       // label cardinality
    zipfS: Double,        // merchant frequency skew, weight of rank k is 1/k^s
    pPaypal: Double,      // share of `paypal *` prefixed narratives
    pDate: Double,        // share carrying a date/time stamp
    pStore: Double,       // share carrying a store number
    pAmount: Double,      // share carrying an amount
    fillerTokens: Int,    // narrative length beyond the merchant name
    nearDupShare: Double) // share of corpus rows copied from an earlier row

/** One card narrative with its planted merchant. */
final case class Narrative(id: Long, merchant: String, narrative: String)

/** Seeded generator of card-transaction narratives such as
  * `PAYPAL *STARBUCKS LONDON 1233-242-43 14SEP21 4.50 GBP`.
  *
  * Everything is a function of (seed, params, stream, index): the same
  * seed always yields the same corpus, batches and change sets. Each
  * merchant owns distinct name tokens (the planted signal a classifier
  * must find); locations, filler, dates, store numbers and amounts are
  * drawn from pools shared by all merchants, so they are noise. */
final class Gen(seed: Long, val p: GenParams) {

  private val syllables = Array("ka", "lo", "mi", "ves", "tra", "no", "bel",
    "qui", "dor", "sam", "ru", "pex", "ta", "zen", "mor", "li", "cas", "fen",
    "go", "hul", "ix", "jo", "wen", "ur", "bri", "sto", "pa", "del", "vi", "ne")
  private val suffixes = Array("LTD", "STORE", "CAFE", "MARKET", "EXPRESS", "UK")
  private val towns = Array("LONDON", "LEEDS", "BRISTOL", "YORK", "BATH",
    "LEICESTER", "CARDIFF", "GLASGOW", "DERBY", "OXFORD", "CAMBRIDGE", "HULL",
    "NORWICH", "EXETER", "SLOUGH", "READING")
  private val filler = Array("CARD", "PAYMENT", "DEB", "CD", "4417", "POS",
    "CONTACTLESS", "ONLINE", "VIS", "DD", "TO", "REF", "PURCHASE", "GB", "AUTH")
  private val months = Array("JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL",
    "AUG", "SEP", "OCT", "NOV", "DEC")

  /** Merchant display names, distinct, in rank order (rank 0 most frequent). */
  val merchantNames: IndexedSeq[String] = {
    val r = new Random(seed * 31 + 7)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < p.merchants) {
      val word = (0 until 2 + r.nextInt(2)).map(_ => syllables(r.nextInt(syllables.length))).mkString
      val name =
        if (r.nextDouble() < 0.5) s"${word.capitalize} ${suffixes(r.nextInt(suffixes.length)).toLowerCase.capitalize}"
        else word.capitalize
      seen += name
    }
    seen.toIndexedSeq
  }

  private val zipfCdf: Array[Double] = {
    val w = (1 to p.merchants).map(k => 1.0 / math.pow(k, p.zipfS))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  /** Independent generator per (kind of draw, stream, index). The key
    * is hashed (splitmix64 finalizer) because `java.util.Random` seeded
    * with consecutive values yields correlated first draws. */
  private def rng(kind: Int, stream: Long, i: Long): Random = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    new Random(mix(mix(mix(mix(seed) + kind) + stream) + i))
  }

  private def zipfRank(r: Random): Int = {
    val u = r.nextDouble()
    val k = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (k >= 0) k else -k - 1, p.merchants - 1)
  }

  private def digits(r: Random, n: Int): String =
    (0 until n).map(_ => ('0' + r.nextInt(10)).toChar).mkString

  /** One noisy narrative for merchant rank `m`. */
  private def narrativeFor(r: Random, m: Int): String = {
    val name = merchantNames(m).toUpperCase
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += (if (r.nextDouble() < p.pPaypal) s"PAYPAL *$name" else name)
    parts += towns(r.nextInt(towns.length))
    if (r.nextDouble() < p.pStore) parts += s"${digits(r, 4)}-${digits(r, 3)}-${digits(r, 2)}"
    for (_ <- 0 until p.fillerTokens) parts += filler(r.nextInt(filler.length))
    if (r.nextDouble() < p.pDate) parts += (r.nextInt(3) match {
      case 0 => f"${1 + r.nextInt(28)}%02d${months(r.nextInt(12))}${19 + r.nextInt(4)}"
      case 1 => f"20${19 + r.nextInt(4)}-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
      case _ => f"${1 + r.nextInt(28)}%02d/${1 + r.nextInt(12)}%02d/20${19 + r.nextInt(4)} ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d"
    })
    if (r.nextDouble() < p.pAmount) parts += f"${1 + r.nextInt(200)}.${r.nextInt(100)}%02d GBP"
    parts.mkString(" ")
  }

  /** Row `i` of narrative stream `stream`; ids are `idBase + i`. */
  def narrative(stream: Long, i: Long, idBase: Long = 0L): Narrative = {
    val r = rng(0, stream, i)
    val m = zipfRank(r)
    Narrative(idBase + i, merchantNames(m), narrativeFor(r, m))
  }

  def narratives(stream: Long, n: Int, idBase: Long = 0L): IndexedSeq[Narrative] =
    (0 until n).map(i => narrative(stream, i, idBase))

  /** `n` narratives of `stream` where a share `nearDupShare` of rows are
    * near-duplicates of an earlier row (same merchant, one token changed). */
  def corpus(stream: Long, n: Int): IndexedSeq[Narrative] = {
    val out = mutable.ArrayBuffer.empty[Narrative]
    for (i <- 0 until n) {
      val fresh = narrative(stream, i)
      out += (if (i > 0 && isNearDup(stream, i)) {
        val src = out(pick(stream, i, i))
        Narrative(i, src.merchant, nearDup(src.narrative, stream, i))
      } else fresh)
    }
    out.toIndexedSeq
  }

  /** A near-duplicate of `text`: one token replaced. */
  def nearDup(text: String, stream: Long, i: Long): String = {
    val r = rng(1, stream, i)
    val toks = text.split(" ")
    toks(r.nextInt(toks.length)) = filler(r.nextInt(filler.length)) + digits(r, 2)
    toks.mkString(" ")
  }

  /** Whether draw `i` of `stream` is a near-duplicate (share `nearDupShare`). */
  def isNearDup(stream: Long, i: Long): Boolean =
    rng(2, stream, i).nextDouble() < p.nearDupShare

  /** Uniform pick in [0, n) for draw `i` of `stream`. */
  def pick(stream: Long, i: Long, n: Int): Int = rng(3, stream, i).nextInt(n)
}
