package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Seeded input generator. Every row is closed-form in (seed, index), so
  * Spark tasks generate the tables in parallel and the Spark driver recomputes
  * the expected value of any row without reading the program's output.
  * Nothing here calls the program: expected extraction values, robots
  * decisions and reachability are derived from how the inputs were built.
  */
object Gen {

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Small sequential generator over splitmix64. */
  final class Rng(seed: Long) {
    private var s = mix(seed)
    def next(): Long = { s = mix(s); s }
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
    def unit(): Double = (next() >>> 11).toDouble / (1L << 53).toDouble
  }

  // ---------------------------------------------------------------- web

  val Normal = 0
  val ErrorPage = 1
  val Missing = 2
  val NoQa = 3 // question/answer divs absent: per-field sentinels
  val NoContainer = 4 // no mvcContainer-1286: whole-row fallback
  val BadDate = 5 // month 13: shamsi kept, gregorian defaulted

  /** The values the reference parser must extract from a detail page. */
  final case class Expect(url: String, fileId: String, question: String,
      answer: String, content: String, fileNumber: String,
      opinionNumber: String, shamsi: String, gregorian: String)

  final case class WebCfg(
      seed: Long,
      hosts: Int,
      details: Int,
      megaPerMille: Int, // share of detail pages on host 0
      zipfS: Double, // exponent of the remaining hosts' sizes
      pageSize: Int, // results per listing page; pages chain by `more`
      errorPerMille: Int,
      missingPerMille: Int,
      degeneratePerMille: Int,
      wordScale: Int, // page size multiplier
      robotsEvery: Int, // 0 = no robots rules; k = about one host in k (never host 0)
      robotsBudget: Int,
      failingBelow: Int) // error and missing pages only among a host's first k details

  private val QuestionWords = Array("آیا", "درخواست", "مطالبه", "خسارت",
    "تأخیر", "قرارداد", "اجاره", "دادگاه", "صلاحیت", "محلی", "ماده", "قانون",
    "آیین", "دادرسی", "مدنی", "کیفری", "وکالت", "ملک", "مشاع", "وراثت",
    "سهم", "چک", "ضمانت", "اعتراض", "ثالث")
  private val AnswerWords = Array("با", "توجه", "به", "مقررات", "مذکور",
    "رسیدگی", "در", "صلاحیت", "دادگاه", "عمومی", "است", "نیست", "حکم",
    "صادر", "می‌شود", "تبصره", "اصلاحی", "مصوب", "لازم‌الاجرا", "بوده",
    "مستفاد", "از", "اطلاق", "عبارت", "نظر", "این", "اداره", "کل")
  /** Replaced by whitespace by the reference's content validator. */
  val AnswerLabel = "نظریه مشورتی اداره کل حقوقی قوه قضاییه :"
  val ErrorText = "خطایی رخ داده است"
  private val PersianDigits = "۰۱۲۳۴۵۶۷۸۹"

  private def persianDigits(s: String): String =
    s.map(c => if (c >= '0' && c <= '9') PersianDigits.charAt(c - '0') else c)

  /** n words from a pool joined by single spaces, plus the same text
    * with some separators turned into newlines or double spaces (the
    * form written into the page).
    */
  private def words(pool: Array[String], rng: Rng, n: Int): (String, String) = {
    val clean = new java.lang.StringBuilder
    val raw = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      val w = pool(rng.below(pool.length))
      if (i > 0) {
        clean.append(' ')
        val r = rng.below(16)
        raw.append(if (r == 0) "\n" else if (r == 1) "  " else " ")
      }
      clean.append(w); raw.append(w)
      i += 1
    }
    (clean.toString, raw.toString)
  }

  private val JalaliBreaks = Array(-61, 9, 38, 199, 426, 686, 756, 818, 1111,
    1181, 1210, 1635, 2060, 2097, 2192, 2262, 2324, 2394, 2456, 3178)

  /** Jalali to Gregorian by Borkowski's break-year method (the jalaali-js
    * algorithm) — a different derivation from the program's 33-year
    * arithmetic; the two agree on every year this generator emits.
    */
  def jalaliToGregorian(jy: Int, jm: Int, jd: Int): java.time.LocalDate = {
    val gy = jy + 621
    var leapJ = -14
    var jp = JalaliBreaks(0)
    var jump = 0
    var i = 1
    var done = false
    while (i < JalaliBreaks.length && !done) {
      val jm1 = JalaliBreaks(i)
      jump = jm1 - jp
      if (jy < jm1) done = true
      else { leapJ += jump / 33 * 8 + (jump % 33) / 4; jp = jm1; i += 1 }
    }
    val n = jy - jp
    leapJ += n / 33 * 8 + ((n % 33) + 3) / 4
    if (jump % 33 == 4 && jump - n == 4) leapJ += 1
    val leapG = gy / 4 - ((gy / 100 + 1) * 3) / 4 - 150
    val march = 20 + leapJ - leapG
    java.time.LocalDate.of(gy, 3, march)
      .plusDays(((jm - 1) * 31 - (jm / 7) * (jm - 7) + jd - 1).toLong)
  }

  private def ymd(y: Int, m: Int, d: Int): String = f"$y%04d/$m%02d/$d%02d"

  final class Web(val cfg: WebCfg) extends Serializable {
    val hostCounts: Array[Int] = {
      val mega = math.max(1, (cfg.details.toLong * cfg.megaPerMille / 1000L).toInt)
      val rest = cfg.details - mega
      val w = (1 until cfg.hosts).map(k => 1.0 / math.pow(k + 1, cfg.zipfS))
      val ws = w.sum
      val counts = new Array[Int](cfg.hosts)
      counts(0) = mega
      for (k <- 1 until cfg.hosts)
        counts(k) = math.max(1, math.round(rest * w(k - 1) / ws).toInt)
      counts(cfg.hosts - 1) = math.max(1, counts(cfg.hosts - 1) + cfg.details - counts.sum)
      counts
    }
    val detailOffsets: Array[Int] = hostCounts.scanLeft(0)(_ + _)
    val listingCounts: Array[Int] = hostCounts.map(n => (n + cfg.pageSize - 1) / cfg.pageSize)
    val listingOffsets: Array[Int] = listingCounts.scanLeft(0)(_ + _)
    def totalDetails: Int = detailOffsets(cfg.hosts)
    def totalListings: Int = listingOffsets(cfg.hosts)
    /** Rows addressed by index: details first, then listings. */
    def totalIndexes: Int = totalDetails + totalListings

    def host(h: Int): String = s"h$h.example.ir"
    def detailId(h: Int, k: Int): Long = (h + 1) * 1000000L + k
    def detailUrl(h: Int, k: Int): String =
      s"https://${host(h)}/opinions/Detail?IdeaId=${detailId(h, k)}"
    def listingUrl(h: Int, p: Int): String = s"https://${host(h)}/search?page=${p + 1}"
    def seeds: Seq[String] = (0 until cfg.hosts).map(h => listingUrl(h, 0))

    private def hostOf(offsets: Array[Int], i: Int): Int = {
      var lo = 0
      var hi = offsets.length - 2
      while (lo < hi) {
        val mid = (lo + hi + 1) >>> 1
        if (offsets(mid) <= i) lo = mid else hi = mid - 1
      }
      lo
    }

    private def pageRng(id: Long): Rng = new Rng(cfg.seed * 0x5851f42d4c957f2dL ^ id)

    def kind(h: Int, k: Int): Int = {
      val pm = pageRng(detailId(h, k)).below(1000)
      val e = if (k < cfg.failingBelow) cfg.errorPerMille else 0
      val m = e + (if (k < cfg.failingBelow) cfg.missingPerMille else 0)
      val d = m + cfg.degeneratePerMille
      if (pm < e) ErrorPage
      else if (pm < m) Missing
      else if (pm < d) NoQa + (pm - m) % 3
      else Normal
    }

    /** (html, expected) for detail page k of host h; html is null for a
      * missing page, expected is None for missing and error pages.
      */
    def detail(h: Int, k: Int): (String, Option[Expect]) = {
      val id = detailId(h, k)
      val url = detailUrl(h, k)
      val kd = kind(h, k)
      if (kd == Missing) return (null, None)
      if (kd == ErrorPage)
        return (s"<html><body><div class=\"err\">$ErrorText</div></body></html>", None)
      if (kd == NoContainer) {
        val html = s"""<html><body>
<div id="mvcContainer-9">
<div><div>نظریه $id</div></div>
</div>
</body></html>"""
        return (html, Some(Expect(url, id.toString, "سوال نامشخص", "پاسخ نامشخص",
          "سوال نامشخص پاسخ نامشخص", "نامشخص", "نامشخص", "0001/01/01", "0001/01/01")))
      }
      val rng = pageRng(id ^ 0x77L)
      val (q, qRaw) = words(QuestionWords, rng, (8 + rng.below(12)) * cfg.wordScale)
      val (a, aRaw) = words(AnswerWords, rng, (25 + rng.below(40)) * cfg.wordScale)
      val labelled = rng.below(8) < 3
      val opYear = 1380 + rng.below(24)
      val opNo = s"۷/$opYear/${rng.below(1000)}"
      val fileNo = s"${1380 + rng.below(24)}-${rng.below(200)}-ک"
      val y = 1380 + rng.below(24)
      val m = if (kd == BadDate) 13 else 1 + rng.below(12)
      val d = 1 + rng.below(29)
      val persian = rng.below(4) == 0
      val dateRaw = s"$y/$m/$d"
      val dateText = "تاریخ نظریه: " + (if (persian) persianDigits(dateRaw) else dateRaw)
      val gregorian =
        if (kd == BadDate) "0001/01/01"
        else {
          val g = jalaliToGregorian(y, m, d)
          ymd(g.getYear, g.getMonthValue, g.getDayOfMonth)
        }
      val header = s"سرصفحه $id"
      val qa =
        if (kd == NoQa) s"<div>\n<div>$header</div>\n</div>"
        else
          s"""<div>
<div>$header</div>
<div><div>$qRaw</div></div>
<div>جداکننده</div>
<div><div>${if (labelled) AnswerLabel + "\n" else ""}$aRaw</div></div>
</div>"""
      val html = s"""<html><head><title>نظریه $id</title></head><body>
<div class="nav"><a href="/">خانه</a></div>
<div id="mvcContainer-1286">
<div>
<div>
<div>عنوان $id</div>
<div>
<div>
<div>
<div>برچسب</div>
<div>
<div>شماره نظریه: $opNo</div>
<div>شماره پرونده: $fileNo</div>
<div>$dateText</div>
</div>
</div>
<div>
$qa
</div>
</div>
</div>
</div>
</div>
</div>
<div class="footer">پانویس</div>
</body></html>"""
      val (eq, ea, ec) =
        if (kd == NoQa) ("سوال نامشخص", "پاسخ نامشخص", header)
        else (q, a, s"$header $q جداکننده $a")
      (html, Some(Expect(url, id.toString, eq, ea, ec, fileNo, opNo,
        ymd(y, m, d), gregorian)))
    }

    /** URLs listing page p of host h links to: its details, then the next page. */
    def listingLinks(h: Int, p: Int): Seq[String] = {
      val from = p * cfg.pageSize
      val until = math.min(from + cfg.pageSize, hostCounts(h))
      (from until until).map(k => detailUrl(h, k)) ++
        (if (until < hostCounts(h)) Seq(listingUrl(h, p + 1)) else Nil)
    }

    def listingJson(h: Int, p: Int): String = {
      val from = p * cfg.pageSize
      val until = math.min(from + cfg.pageSize, hostCounts(h))
      val items = (from until until).map { k =>
        val id = detailId(h, k)
        // about one item in twenty carries only its IdeaId; the crawler
        // derives the detail URL from the listing's host
        if (pageRng(id ^ 0x1dL).below(20) == 0)
          s"""{"IdeaId": $id, "DocumentUrl": null, "Title": "نظریه $id", "Description": null}"""
        else
          s"""{"IdeaId": $id, "DocumentUrl": "${detailUrl(h, k)}", "Title": "نظریه $id", "Description": null}"""
      }
      val more = until < hostCounts(h)
      s"""{"results": [${items.mkString(", ")}], "totalHits": ${hostCounts(h)}, "more": $more}"""
    }

    /** Page-table row for index i, or null for a missing page. */
    def row(i: Int): (String, Array[Byte]) =
      if (i < totalDetails) {
        val h = hostOf(detailOffsets, i)
        val (html, _) = detail(h, i - detailOffsets(h))
        if (html == null) null else (detailUrl(h, i - detailOffsets(h)), html.getBytes(UTF_8))
      } else {
        val li = i - totalDetails
        val h = hostOf(listingOffsets, li)
        val p = li - listingOffsets(h)
        (listingUrl(h, p), listingJson(h, p).getBytes(UTF_8))
      }

    def urlOf(i: Int): String =
      if (i < totalDetails) {
        val h = hostOf(detailOffsets, i)
        detailUrl(h, i - detailOffsets(h))
      } else {
        val li = i - totalDetails
        val h = hostOf(listingOffsets, li)
        listingUrl(h, li - listingOffsets(h))
      }

    def kindOf(i: Int): Int =
      if (i < totalDetails) {
        val h = hostOf(detailOffsets, i)
        kind(h, i - detailOffsets(h))
      } else Normal

    def expectOf(i: Int): Option[Expect] =
      if (i < totalDetails) {
        val h = hostOf(detailOffsets, i)
        detail(h, i - detailOffsets(h))._2
      } else None

    /** Hosts that publish robots rules. */
    val robotsHosts: Seq[Int] =
      if (cfg.robotsEvery <= 0) Nil
      else (1 until cfg.hosts).filter(h =>
        new Rng(cfg.seed ^ (h * 0x9e37L + 17)).below(cfg.robotsEvery) == 0)

    /** robots.txt bodies: crawl delay, a glob Disallow on detail ids that
      * end in 3 with a longer Allow that re-admits ids ending in 13, and
      * a prefix Disallow that cuts listing pages 9, 90-99, ... out.
      */
    def robotsTexts: Map[String, String] = robotsHosts.map { h =>
      host(h) -> s"""User-agent: other
Disallow: /

User-agent: *
Crawl-delay: 2
Disallow: /opinions/Detail?IdeaId=*3$$
Allow: /opinions/Detail?IdeaId=*13$$
Disallow: /search?page=9
"""
    }.toMap

    /** The same rules, evaluated from how they were written. */
    def robotsAllowed(url: String): Boolean = {
      val h = url.substring(8, url.indexOf('/', 8))
      val hi = h.substring(1, h.indexOf('.')).toInt
      if (!robotsHosts.contains(hi)) return true
      val path = url.substring(url.indexOf('/', 8))
      if (path.startsWith("/search?page=9")) return false
      if (path.startsWith("/opinions/Detail?IdeaId=")) {
        val id = path.substring("/opinions/Detail?IdeaId=".length)
        !(id.endsWith("3") && !id.endsWith("13"))
      } else true
    }

    /** URLs a crawl from the seeds schedules: breadth-first over listing
      * links, skipping what robots disallows; error and missing pages are
      * scheduled but contribute no links (listings are always served).
      */
    def reachable: Set[String] = {
      val listingIndex = (0 until cfg.hosts).flatMap(h =>
        (0 until listingCounts(h)).map(p => listingUrl(h, p) -> (h, p))).toMap
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      var frontier = seeds.filter(robotsAllowed)
      out ++= frontier
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(u => listingIndex.get(u) match {
          case Some((h, p)) => listingLinks(h, p)
          case None => Nil
        }).filter(u => robotsAllowed(u) && !out.contains(u)).distinct
        out ++= next
        frontier = next
      }
      out.toSet
    }

    def isFailing(url: String): Boolean =
      if (!url.contains("/opinions/Detail?IdeaId=")) false
      else {
        val id = url.substring(url.indexOf("IdeaId=") + 7).toLong
        val h = (id / 1000000L - 1).toInt
        val k = (id % 1000000L).toInt
        val kd = kind(h, k)
        kd == ErrorPage || kd == Missing
      }
  }

  // ------------------------------------------------------------- corpus

  final case class CorpusCfg(seed: Long, day0: Int, day1: Int, vocab: Int,
      dupPerMille: Int, termQueries: Int, phraseQueries: Int)

  final case class Doc(id: Long, question: String, answer: String,
      content: String, day: Int)

  final class Corpus(val cfg: CorpusCfg) extends Serializable {
    def size: Int = cfg.day0 + cfg.day1
    private val cum: Array[Double] = {
      val c = new Array[Double](cfg.vocab)
      var acc = 0.0
      var k = 0
      while (k < cfg.vocab) { acc += 1.0 / (k + 1); c(k) = acc; k += 1 }
      c
    }
    def term(k: Int): String = "t" + Integer.toString(k, 36)
    private def draw(rng: Rng): Int = {
      val x = rng.unit() * cum(cfg.vocab - 1)
      val i = java.util.Arrays.binarySearch(cum, x)
      math.min(if (i >= 0) i else -i - 1, cfg.vocab - 1)
    }
    private def text(rng: Rng, n: Int): Array[Int] = Array.fill(n)(draw(rng))

    private def baseTokens(i: Int): (Array[Int], Array[Int], Array[Int]) = {
      val rng = new Rng(cfg.seed * 31 + i * 0x2545f4914f6cdd1dL)
      (text(rng, 6 + rng.below(8)), text(rng, 20 + rng.below(25)),
        text(rng, 70 + rng.below(40)))
    }

    private def copyRng(i: Int) = new Rng(cfg.seed ^ (i * 0x632be59bd9b4e019L + 5))
    private def isCopy(i: Int): Boolean = i >= 16 && copyRng(i).below(1000) < cfg.dupPerMille

    /** Index of the original a planted near-duplicate copies, or -1. */
    def copyOf(i: Int): Int =
      if (!isCopy(i)) -1
      else {
        val rng = copyRng(i); rng.next()
        var j = i - 1 - rng.below(math.min(i - 1, 400))
        while (j > 0 && isCopy(j)) j -= 1
        j
      }

    def doc(i: Int): Doc = {
      val src = copyOf(i)
      val (q, a, c) = baseTokens(if (src >= 0) src else i)
      if (src >= 0) {
        // one token of the content changes: the pair's 3-shingle Jaccard
        // stays above 0.9, far over the dedup threshold
        val rng = copyRng(i); rng.next(); rng.next()
        val pos = rng.below(c.length)
        c(pos) = (c(pos) + 1 + rng.below(cfg.vocab - 1)) % cfg.vocab
      }
      def s(t: Array[Int]) = t.map(term).mkString(" ")
      Doc(i + 1L, s(q), s(a), s(c), if (i < cfg.day0) 0 else 1)
    }

    /** (orig id, copy id) of every planted near-duplicate pair. */
    def plantedPairs: Seq[(Long, Long)] =
      (0 until size).flatMap { i => val j = copyOf(i); if (j >= 0) Some((j + 1L, i + 1L)) else None }

    /** Bag-of-terms queries: (query_id, text) of 2-3 distinct mid-rank terms. */
    def termQueries: Seq[(Long, String)] = (0 until cfg.termQueries).map { q =>
      val rng = new Rng(cfg.seed ^ (0x51L + q * 7919L))
      val n = 2 + rng.below(2)
      val ts = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (ts.size < n) ts += 5 + rng.below(math.min(600, cfg.vocab - 5))
      (q.toLong, ts.map(term).mkString(" "))
    }

    /** Phrase queries: (query_id, phrase), one or two phrases per query,
      * each 2-3 consecutive words of some document field.
      */
    def phraseQueries: Seq[(Long, String)] = (0 until cfg.phraseQueries).flatMap { q =>
      val rng = new Rng(cfg.seed ^ (0x93L + q * 104729L))
      val n = 1 + rng.below(2)
      (0 until n).map { _ =>
        val d = doc(rng.below(size))
        val f = Seq(d.question, d.answer, d.content).apply(rng.below(3)).split(" ")
        val len = math.min(2 + rng.below(2), f.length)
        val start = rng.below(f.length - len + 1)
        (q.toLong, f.slice(start, start + len).mkString(" "))
      }
    }.distinct
  }
}
