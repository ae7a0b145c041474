package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators and their ground truth. Every input the
  * program sees comes from here; the same seed gives the same bytes.
  */
object Gen {

  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 1000003L ^ salt.hashCode.toLong)

  /** Zipf(s) sampler over ranks 0 until n (inverse CDF over a table). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // ---------------------------------------------------------------- auctions

  final case class Listing(id: Long, itemId: Option[Long], quantity: Option[Long],
      unitPrice: Option[Long], buyout: Option[Long], timeLeft: String,
      gear: Boolean) {
    def json(sb: java.lang.StringBuilder): Unit = {
      sb.append("{\"id\":").append(id)
      itemId.foreach { i =>
        sb.append(",\"item\":{\"id\":").append(i)
        if (gear) sb.append(",\"modifiers\":[{\"type\":9,\"value\":70}]")
        sb.append('}')
      }
      quantity.foreach(q => sb.append(",\"quantity\":").append(q))
      unitPrice.foreach(p => sb.append(",\"unit_price\":").append(p))
      buyout.foreach { b =>
        sb.append(",\"buyout\":").append(b).append(",\"bid\":").append(b * 4 / 5)
      }
      sb.append(",\"time_left\":\"").append(timeLeft).append("\"}")
    }
  }

  def snapshotJson(listings: Seq[Listing]): String = {
    val sb = new java.lang.StringBuilder(listings.size * 120 + 64)
    sb.append("{\"_links\":{},\"connected_realm\":{\"id\":3209},\"auctions\":[\n")
    var first = true
    listings.foreach { l =>
      if (!first) sb.append(",\n")
      first = false
      l.json(sb)
    }
    sb.append("\n]}")
    sb.toString
  }

  /** Blizzard-shaped auction days: a Zipf item mix (every third item
    * rank is a commodity priced by `unit_price`, the rest are gear
    * priced by `buyout` with quantity 1), a share of each day's
    * auctions carried over from the previous day (an auction lives at
    * most two days, as 48 h listings do), and a few malformed
    * numerics per day (missing item, quantity 0, missing quantity,
    * no price at all).
    */
  final class AuctionDays(seed: Long, listingsPerDay: Int, carryShare: Double,
      nItems: Int, malformedPerDay: Int, val start: LocalDate) {
    private val zipf = new Zipf(nItems, 1.1)
    val items: Array[Long] = {
      val r = rng(seed, "items")
      Array.tabulate(nItems)(k => 100000L + k * 7L + r.nextInt(7))
    }
    private val basePrice: Array[Long] = {
      val r = rng(seed, "prices")
      Array.fill(nItems)(math.exp(6.0 + r.nextDouble() * 8.0).toLong + 1L)
    }
    private val timeLefts = Array("SHORT", "MEDIUM", "LONG", "VERY_LONG")
    private var nextId = 1000000L + rng(seed, "ids").nextInt(1000000)
    private var prevFresh: IndexedSeq[Listing] = IndexedSeq.empty
    private var dayIndex = 0

    def isCommodityRank(k: Int): Boolean = k % 3 == 0

    private def fresh(r: SplittableRandom): Listing = {
      val k = zipf.sample(r)
      val id = nextId; nextId += 1 + r.nextInt(3)
      val noise = 0.7 + r.nextDouble() * 0.6
      val tl = timeLefts(r.nextInt(timeLefts.length))
      if (isCommodityRank(k))
        Listing(id, Some(items(k)), Some(1L + r.nextInt(200)),
          Some((basePrice(k) * noise).toLong + 1L), None, tl, gear = false)
      else
        Listing(id, Some(items(k)), Some(1L), None,
          Some((basePrice(k) * noise * 20).toLong + 1L), tl, gear = true)
    }

    private def malformed(r: SplittableRandom, j: Int): Listing = {
      val id = nextId; nextId += 1
      val k = zipf.sample(r)
      j % 4 match {
        case 0 => Listing(id, None, None, None, None, "MEDIUM", gear = false)
        case 1 => Listing(id, Some(items(k)), Some(0L), None, Some(5000L), "SHORT", gear = false)
        case 2 => Listing(id, Some(items(k)), None, Some(basePrice(k)), None, "LONG", gear = false)
        case _ => Listing(id, Some(items(k)), Some(3L), None, None, "LONG", gear = false)
      }
    }

    /** The next day's listings: (date, listings). Carried listings keep
      * their id and item; their price and quantity may move.
      */
    def next(): (LocalDate, IndexedSeq[Listing]) = {
      val r = rng(seed, s"day$dayIndex")
      val date = start.plusDays(dayIndex.toLong)
      val carried = prevFresh.filter(_ => r.nextDouble() < carryShare)
      val nFresh = math.max(0, listingsPerDay - carried.size - malformedPerDay)
      val fresh = IndexedSeq.fill(nFresh)(this.fresh(r))
      val bad = IndexedSeq.tabulate(malformedPerDay)(j => malformed(r, j))
      val all = (carried ++ fresh ++ bad).toArray
      for (i <- all.indices.reverse) { // Fisher-Yates
        val j = r.nextInt(i + 1); val t = all(i); all(i) = all(j); all(j) = t
      }
      prevFresh = fresh
      dayIndex += 1
      (date, all.toIndexedSeq)
    }
  }

  /** Ground truth of the batch medallion path: first-seen inserts per
    * day against the RETAINED silver id set, and the (item, day) rows
    * G1 must hold for every retained day. Retention drops a day's
    * partition once it is older than `asOf - retentionDays`.
    */
  final class SilverTruth(retentionDays: Int) {
    private val firstSeen = mutable.LinkedHashMap[Long, LocalDate]()
    val newByDay = mutable.LinkedHashMap[LocalDate, Long]()
    val g1Items = mutable.LinkedHashMap[LocalDate, Set[Option[Long]]]()

    def day(date: LocalDate, listings: Seq[Listing]): Long = {
      val seenToday = mutable.HashSet[Long]()
      val items = mutable.HashSet[Option[Long]]()
      var n = 0L
      listings.foreach { l =>
        if (!firstSeen.contains(l.id) && seenToday.add(l.id)) {
          n += 1; items += l.itemId
        }
      }
      seenToday.foreach(id => firstSeen(id) = date)
      newByDay(date) = n
      g1Items(date) = items.toSet
      val cutoff = date.minusDays(retentionDays.toLong)
      firstSeen.filterInPlace((_, d) => !d.isBefore(cutoff))
      newByDay.filterInPlace((d, _) => !d.isBefore(cutoff))
      g1Items.filterInPlace((d, _) => !d.isBefore(cutoff))
      n
    }

    def retainedRows: Long = newByDay.values.sum
  }

  // ---------------------------------------------------------------- stream

  final case class HourFile(index: Int, date: LocalDate, hour: Int,
      listings: IndexedSeq[Listing]) {
    def name: String = f"raw_auctions_${date}_$hour%02d.json"
  }

  /** Hourly bronze files cut from the same auction days: each auction is
    * listed in every file from a random start hour to a random end hour
    * of its day, so one id recurs across a day's files (and, for carried
    * auctions, into the next day's).
    */
  def hourFiles(seed: Long, nFiles: Int, filesPerDay: Int,
      listingsPerDay: Int, carryShare: Double, nItems: Int,
      start: LocalDate): IndexedSeq[HourFile] = {
    val days = new AuctionDays(seed, listingsPerDay, carryShare, nItems, 0, start)
    val out = IndexedSeq.newBuilder[HourFile]
    var made = 0
    while (made < nFiles) {
      val (date, ls) = days.next()
      val r = rng(seed, s"hours$date")
      val spans = ls.map { l =>
        val a = r.nextInt(filesPerDay)
        (l, a, a + r.nextInt(filesPerDay - a))
      }
      var h = 0
      while (h < filesPerDay && made < nFiles) {
        out += HourFile(made, date, h,
          spans.collect { case (l, a, b) if a <= h && h <= b => l })
        made += 1; h += 1
      }
    }
    out.result()
  }

  // ---------------------------------------------------------------- corpus

  final case class Corpus(docs: IndexedSeq[(Long, String, String)],
      bench: IndexedSeq[String], exactDupLosers: Set[Long],
      nearDupLosers: Set[Long], contaminated: Set[Long], lowQuality: Set[Long])

  private val langStop = Map(
    "en" -> Array("the", "and", "of", "to", "is", "in", "a", "that"),
    "es" -> Array("el", "la", "de", "que", "y", "los"),
    "de" -> Array("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Array("le", "les", "des", "et", "est", "une"))
  private val langs = Array("en", "en", "es", "de", "fr")

  private def word(r: SplittableRandom, prefix: Char, vocab: Int): String = {
    val k = r.nextInt(vocab)
    val sb = new StringBuilder().append(prefix)
    var x = k
    do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
    sb.append(('a' + k % 7).toChar).toString
  }

  private def sentence(r: SplittableRandom, lang: String, nTok: Int,
      prefix: Char): Array[String] = {
    val stops = langStop(lang)
    Array.fill(nTok)(
      if (r.nextDouble() < 0.3) stops(r.nextInt(stops.length))
      else word(r, prefix, 4000))
  }

  /** A multi-source, multi-language corpus with planted exact
    * duplicates (case and whitespace variants of an earlier doc),
    * planted near-duplicates (two token edits of an earlier doc, well
    * above a 0.8 shingle Jaccard), low-quality docs (short symbol
    * strings), and docs that embed an 8-token span of a held-out
    * benchmark doc. Benchmark words use a disjoint vocabulary, so only
    * the planted spans overlap it.
    */
  def corpus(seed: Long, nDocs: Int, nSources: Int, nBench: Int,
      dupShare: Double, nearShare: Double, lowShare: Double,
      contamShare: Double): Corpus = {
    val r = rng(seed, "corpus")
    val bench = IndexedSeq.fill(nBench)(
      Array.fill(60)(word(r, 'q', 4000)).mkString(" "))
    val docs = mutable.ArrayBuffer[(Long, String, String)]()
    val base = mutable.ArrayBuffer[Int]() // indices of plain docs usable as originals
    val exact, near, contam, low = mutable.HashSet[Long]()
    var id = 1L + r.nextInt(1000)
    while (docs.size < nDocs) {
      val src = s"src${r.nextInt(nSources)}"
      val u = r.nextDouble()
      val text: String =
        if (u < dupShare && base.nonEmpty) {
          val orig = docs(base(r.nextInt(base.size)))._2
          exact += id
          if (r.nextBoolean()) orig.toUpperCase
          else orig.replace(" ", "  ") + "  "
        } else if (u < dupShare + nearShare && base.nonEmpty) {
          val toks = docs(base(r.nextInt(base.size)))._2.split(" ")
          val a = r.nextInt(toks.length)
          val b = (a + toks.length / 2) % toks.length
          toks(a) = word(r, 'z', 4000); toks(b) = word(r, 'z', 4000)
          near += id
          toks.mkString(" ")
        } else if (u < dupShare + nearShare + lowShare) {
          low += id
          Array.fill(2 + r.nextInt(6))(s"#${r.nextInt(99999)}%").mkString(" ")
        } else if (u < dupShare + nearShare + lowShare + contamShare) {
          val b = bench(r.nextInt(nBench)).split(" ")
          val at = r.nextInt(b.length - 8)
          val lang = langs(r.nextInt(langs.length))
          contam += id
          (sentence(r, lang, 40, 'w') ++ b.slice(at, at + 8) ++
            sentence(r, lang, 40, 'w')).mkString(" ")
        } else {
          base += docs.size
          sentence(r, langs(r.nextInt(langs.length)), 70 + r.nextInt(80), 'w')
            .mkString(" ")
        }
      docs += ((id, text, src))
      id += 1 + r.nextInt(2)
    }
    Corpus(docs.toIndexedSeq, bench, exact.toSet, near.toSet, contam.toSet, low.toSet)
  }

  // ---------------------------------------------------------------- serving

  val routes: IndexedSeq[String] = IndexedSeq("opportunities", "bestOpportunity",
    "priceHistoryDense", "priceHistory", "dailySummary", "demand",
    "concentration", "marketIndex", "items")
  final case class Request(seq: Int, route: String, itemRank: Int, page: Int,
      recommendation: Option[String], status: Option[String])
}
