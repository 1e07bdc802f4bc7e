package perfbench

import graft.extract.Extractor
import graft.frontier.{FrontierCrawl, FrontierRound, Outlinks, PolitenessConfig, RobotsRules}
import graft.model.FrontierEntry
import graft.sim.CrawlSimulator
import graft.sources.PagesTable
import graft.store.FrontierStore
import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A store-backed crawl from the seed list (one listing page per host) to
  * an empty frontier over a url-bucketed pages table of large detail
  * pages. Round 1 is the wide round: every detail page the listings name,
  * up to the per-round capacity. It runs under binding per-host budgets,
  * the capacity cut, one retry, error and missing pages, robots rules on
  * about a third of the hosts and a Zipf host mix with a mega-host. The
  * crawl is stopped after the wide round and resumed from its last
  * snapshot. Failing pages sit among each host's first details, which the
  * wide round schedules, so the drain takes three rounds: seeds, the wide
  * round, then the deferred pages with the retries.
  */
final class CrawlDrain(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val StopAfter = 2
  private val web = new Gen.Web(Gen.WebCfg(seed = ctx.seed, hosts = 6,
    details = 480, megaPerMille = 300, zipfS = 1.0, pageSize = 200,
    errorPerMille = 150, missingPerMille = 50, degeneratePerMille = 45,
    wordScale = 3, robotsEvery = 3, robotsBudget = 60, failingBelow = 20))
  private val cfg = PolitenessConfig(defaultBudget = 100, maxRetries = 1,
    maxUrlsPerRound = 320L)
  private val robots = RobotsRules(RobotsRules.fromTexts(web.robotsTexts).byHost
    .map { case (h, r) => h -> r.copy(budget = Some(web.cfg.robotsBudget)) })
  private lazy val reachable = web.reachable
  /** Fetches of a full drain: every reachable URL once, failing ones twice. */
  private lazy val fetches = reachable.size + reachable.count(web.isFailing)

  private var pages: DataFrame = _
  private var store: FrontierStore = _
  private var storeDir: File = _
  private var rounds = 0

  def setup(): Unit = {
    val w = web
    val path = new File(ctx.work, "pages").getAbsolutePath
    val rows = spark.range(0, w.totalIndexes.toLong, 1, ctx.cores)
      .flatMap(i => Option(w.row(i.toInt)).toSeq)
      .toDF("url", "html")
      .select($"url", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("warc_ts"),
        $"html", lit(null).cast("string").as("text"), lit("fa").as("lang"))
    PagesTable.writeBucketed(spark, rows, "perfbench_pages", path, buckets = 8)
    pages = PagesTable.bind(spark, "perfbench_pages", path, buckets = 8)
  }

  def run(dir: File): Outcome = {
    storeDir = new File(dir, "store")
    store = new FrontierStore(spark, storeDir.getAbsolutePath)
    val first = ctx.spans("frontier.crawl") {
      FrontierCrawl.run(spark, pages, web.seeds, Some(store), robots, cfg, maxRounds = StopAfter)
    }
    val rest = ctx.spans("frontier.crawl") {
      FrontierCrawl.run(spark, pages, web.seeds, Some(store), robots, cfg, maxRounds = 1000)
    }
    rounds = first.rounds + rest.rounds
    val (st, firstRounds, total) = (store, first.rounds, rounds)
    Outcome(fetches.toLong, 2, Main.dirBytes(storeDir), () => check(st, firstRounds, total))
  }

  // ------------------------------------------------------ layer probes

  /** Every URL of the generated web plus unlinked ones, as one frontier. */
  private var unlinked = 0L
  private lazy val everything: Dataset[FrontierEntry] = {
    val w = web
    val fresh = (0 until w.totalIndexes / 10).map(i =>
      s"https://${w.host(i % w.cfg.hosts)}/opinions/Detail?IdeaId=${9000000L + i}")
    unlinked = fresh.size.toLong
    val path = new File(ctx.work, "frontier-all").getAbsolutePath
    ((0 until w.totalIndexes).map(w.urlOf) ++ fresh).zipWithIndex
      .map { case (u, i) => (u, i.toDouble) }
      .toDF("url", "priority")
      .transform(df => FrontierRound.toFrontier(spark, df, 0))
      .write.parquet(path)
    spark.read.parquet(path).as[FrontierEntry]
  }
  private var deferred = 0L
  private var kept = 0L
  private var seenParts = 0
  private var htmlBytes = 0.0
  private var extractPages = 0L
  private var linkCount = 0L

  def probe(): Unit = {
    val sp = ctx.spans
    everything
    sp("store.resume") {
      val snap = store.latest().get
      store.read(snap, "frontier").count()
      spark.read.parquet(snap.tables("seen_parts").split(";").toSeq: _*).count()
    }
    sp("frontier.schedule") {
      val plan = FrontierRound.schedule(spark, everything, robots, cfg)
      plan.scheduled.count()
      deferred = plan.deferred.count()
      plan.dedupedCache.unpersist(true)
    }
    sp("seen.probe") {
      val parts = store.latest().get.tables("seen_parts").split(";").toSeq
      seenParts = parts.size
      kept = FrontierRound.notSeen(spark, everything, spark.read.parquet(parts: _*), cfg).count()
    }
    sp("extract") {
      val r = pages.filter($"url".contains("/opinions/")).select($"url", $"html")
        .as[(String, Array[Byte])]
        .map { case (u, h) => (h.length.toLong, Extractor.extractBytes(u, u, h).content.length.toLong) }
        .agg(sum($"_1"), sum($"_2"), count(lit(1))).head()
      htmlBytes = r.getLong(0).toDouble
      extractPages = r.getLong(2)
    }
    val links = sp("outlinks") {
      pages.filter(!$"url".contains("/opinions/")).select($"url", $"html")
        .as[(String, Array[Byte])]
        .flatMap { case (u, h) => Outlinks.extract(u, new String(h, "UTF-8")) }
        .toDF("url", "priority")
        .localCheckpoint(true)
    }
    linkCount = links.count()
    sp("url") { FrontierRound.toFrontier(spark, links, 1).count() }
  }

  def layers(): Map[String, Double] = {
    def w(name: String) = new Window(ctx.rec, ctx.spans.all(name))
    val crawl = ctx.spans.all("frontier.crawl")
    val round = new Window(ctx.rec, crawl)
    val commit = new Window(ctx.rec, crawl, _.contains("(FrontierStore.scala:"))
    val seen = w("seen.probe")
    val r = rounds.toDouble
    val candidates = (web.totalIndexes + unlinked).toDouble
    Map(
      "frontier.round.wall_ms" -> round.wallMs / r,
      "frontier.round.jobs" -> round.jobs.size / r,
      "frontier.round.stages" -> round.stages / r,
      "frontier.round.driver_gap_ms" -> (round.wallMs - round.busyMs) / r,
      "frontier.round.skew" -> round.skew,
      "frontier.schedule.task_cpu_ms" -> w("frontier.schedule").cpuMs,
      "frontier.schedule.shuffle_bytes" -> w("frontier.schedule").shuffleBytes,
      "frontier.schedule.deferred_rows" -> deferred.toDouble,
      "seen.probe.wall_ms" -> seen.wallMs,
      "seen.probe.task_cpu_ms" -> seen.cpuMs,
      "seen.probe.shuffle_bytes" -> seen.shuffleBytes,
      "seen.kept" -> kept.toDouble,
      "seen.candidates" -> candidates,
      "seen.kept_ratio" -> kept / candidates,
      "seen.parts" -> seenParts.toDouble,
      "extract.task_cpu_us_per_page" -> w("extract").cpuMs * 1e3 / extractPages,
      "extract.html_bytes" -> htmlBytes,
      "outlinks.links_per_page" -> linkCount.toDouble / web.totalListings,
      "outlinks.task_cpu_us_per_link" -> w("outlinks").cpuMs * 1e3 / linkCount,
      "url.task_cpu_us_per_link" -> w("url").cpuMs * 1e3 / linkCount,
      "store.commit.wall_ms" -> commit.busyMs / r,
      "store.commit.bytes" -> Main.dirBytes(storeDir) / r,
      "store.commit.files" -> Main.dirFiles(storeDir) / r,
      "store.resume.wall_ms" -> w("store.resume").wallMs)
  }

  // ------------------------------------------------------------ checks

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  private def require(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(s"check failed: $what")

  private def check(st: FrontierStore, firstRounds: Int, total: Int): Unit = {
    require(firstRounds == StopAfter, s"first leg ran $firstRounds rounds")
    val last = st.latest().get
    require(last.round == total - 1, s"last snapshot ${last.round}, rounds $total")
    require(st.read(last, "frontier").count() == 0L, "frontier not drained")
    def all(table: String) =
      spark.read.parquet((0 until total).map(r => st.tablePath(r, table)): _*)
    val sched = all("scheduled").select("round", "host", "slot", "url").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toVector.sorted
    val results = all("results").select("url", "status").collect()
      .map(r => (r.getString(0), r.getString(1))).toVector

    // schedule and seen set equal the scalar simulator's, which runs the
    // same universe without the stop and resume
    val universe = (0 until web.totalIndexes).flatMap(i => Option(web.row(i)))
      .map { case (u, h) => u -> new String(h, "UTF-8") }.toMap
    val sim = CrawlSimulator.run(universe, web.seeds, robots, cfg, maxRounds = 1000)
    val simSched = sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).sorted
    require(sched == simSched, s"schedule differs from the simulator: ${sched.size} vs " +
      s"${simSched.size} rows, first difference ${sched.zip(simSched).find(p => p._1 != p._2)}")

    // politeness: budgets, capacity, contiguous slots
    val robotsHosts = web.robotsHosts.map(web.host).toSet
    sched.groupBy(s => (s._1, s._2)).foreach { case ((r, h), rows) =>
      val budget = if (robotsHosts(h)) web.cfg.robotsBudget else cfg.defaultBudget
      require(rows.size <= budget, s"round $r host $h scheduled ${rows.size} > $budget")
      require(rows.map(_._3).sorted == (1 to rows.size), s"round $r host $h slots not 1..n")
    }
    sched.groupBy(_._1).foreach { case (r, rows) =>
      require(rows.size <= cfg.maxUrlsPerRound, s"round $r scheduled ${rows.size}")
    }

    // attempts: failing pages maxRetries + 1 times, the rest once
    val attempts = results.groupBy(_._1).map { case (u, rs) => u -> rs.size }
    require(attempts.keySet == reachable,
      s"${attempts.size} fetched URLs vs ${reachable.size} reachable")
    attempts.foreach { case (u, n) =>
      val want = if (web.isFailing(u)) cfg.maxRetries + 1 else 1
      require(n == want, s"$u attempted $n times, expected $want")
    }
    require(results.size == fetches, s"${results.size} fetches, expected $fetches")
    val index = (0 until web.totalIndexes).map(i => web.urlOf(i) -> i).toMap
    val failing = reachable.toSeq.filter(web.isFailing)
    val missing = failing.count(u => web.kindOf(index(u)) == Gen.Missing)
    val byStatus = results.groupBy(_._2).map { case (s, rs) => s -> rs.size }
    val tries = cfg.maxRetries + 1
    require(byStatus.getOrElse("ok", 0) == reachable.size - failing.size &&
      byStatus.getOrElse("missing", 0) == missing * tries &&
      byStatus.getOrElse("error_page", 0) == (failing.size - missing) * tries,
      s"statuses $byStatus")

    // seen set: distinct keys are exactly the reachable URLs
    val seen = spark.read.parquet(last.tables("seen_parts").split(";").toSeq: _*)
      .distinct().collect().map(_.getString(0)).toSet
    require(seen == reachable.map(sha256Hex), s"${seen.size} seen keys vs ${reachable.size}")
    require(seen == sim.seen, "seen set differs from the simulator")

    // every extracted field of every fetched page is the generator's value
    val got = all("extracted").collect().map { r =>
      r.getAs[String]("url") -> Seq("file_id", "question", "answer", "content",
        "file_number", "opinion_number", "opinion_date_shamsi",
        "opinion_date_gregorian").map(r.getAs[String])
    }
    require(got.length == reachable.size - failing.size,
      s"${got.length} extracted rows, expected ${reachable.size - failing.size}")
    got.foreach { case (url, g) =>
      val i = index(url)
      val want = web.expectOf(i) match {
        case Some(e) => Seq(e.fileId, e.question, e.answer, e.content,
          e.fileNumber, e.opinionNumber, e.shamsi, e.gregorian)
        case None => // a listing body holds no mvcContainer-1286
          require(i >= web.totalDetails, s"$url extracted but should have failed")
          Seq(sha256Hex(url), "سوال نامشخص", "پاسخ نامشخص",
            "سوال نامشخص پاسخ نامشخص", "نامشخص", "نامشخص", "0001/01/01", "0001/01/01")
      }
      require(g == want, s"extracted fields of $url: got ${g.mkString(" | ")}, " +
        s"expected ${want.mkString(" | ")}")
    }
  }
}
