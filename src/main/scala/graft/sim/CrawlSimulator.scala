package graft.sim

import graft.extract.Extractor
import graft.frontier.{Outlinks, PolitenessConfig, RobotsRules}
import graft.url.Urls
import scala.collection.mutable

/** Scalar in-memory crawl simulator — a direct, deterministic
  * transliteration of the reference's crawl loop semantics
  * (/root/reference/src/handler.py:444-497 producer loop; 355-377 workers;
  * 397-442 retry pass), defining the ordering contract the Spark engine
  * must match (SURVEY.md §5 test 2): per round, per host, entries are
  * served in (priority, url_key) order up to the host budget; failures
  * retry once; everything attempted enters the seen set.
  *
  * The reference's in-flight order is asyncio-nondeterministic within a
  * batch; its queue feed order (handler.py:474-475) IS this deterministic
  * order, which both this simulator and the engine reproduce.
  */
object CrawlSimulator {

  final case class SimEntry(
      urlKey: String, url: String, host: String,
      priority: Double, attempt: Int, discoveredRound: Int)

  final case class SimFetch(round: Int, host: String, slot: Int, url: String, status: String)

  final case class SimResult(
      schedule: Vector[SimFetch],
      seen: Set[String], // url keys
      extractedUrls: Set[String])

  def run(
      universe: Map[String, String], // canonical url -> body
      seeds: Seq[String],
      robots: RobotsRules = RobotsRules.empty,
      cfg: PolitenessConfig = PolitenessConfig(),
      maxRounds: Int = 100): SimResult = {

    var frontier: Vector[SimEntry] = seeds.map { u =>
      val c = Urls.canonicalize(u)
      SimEntry(Urls.sha256Hex(c), c, Urls.host(c), 0.0, 0, 0)
    }.toVector

    val seen = mutable.Set.empty[String]
    val schedule = Vector.newBuilder[SimFetch]
    val extractedUrls = mutable.Set.empty[String]
    var round = 0
    // adaptive-backoff state (mirrors FrontierCrawl.robotsCur)
    var robotsCur = robots

    while (round < maxRounds && frontier.nonEmpty) {
      // status is computed ONCE per scheduled entry here and reused by the
      // schedule record, the outcome pass, and the backoff aggregation below
      val (inSchedule, deferred) = scheduleRound(frontier, robotsCur, cfg)
      val scheduled = inSchedule.map { case (e, slot) =>
        val status = statusOf(universe, e.url)
        schedule += SimFetch(round, e.host, slot, e.url, status)
        (e, status)
      }

      val fresh = mutable.ArrayBuffer.empty[SimEntry]
      val retries = mutable.ArrayBuffer.empty[SimEntry]
      val scheduledKeys = scheduled.map(_._1.urlKey).toSet

      scheduled.foreach { case (e, status) =>
        status match {
          case "ok" =>
            extractedUrls += e.url
            Outlinks.extract(e.url, universe(e.url)).foreach { case (link, prio) =>
              val c = Urls.canonicalize(link)
              val k = Urls.sha256Hex(c)
              if (!seen.contains(k) && !scheduledKeys.contains(k))
                fresh += SimEntry(k, c, Urls.host(c), prio, 0, round + 1)
            }
          case _ =>
            if (e.attempt + 1 <= cfg.maxRetries)
              retries += e.copy(attempt = e.attempt + 1)
        }
      }

      seen ++= scheduledKeys
      // adaptive politeness backoff (mirrors FrontierCrawl +
      // AdaptiveBudgets.fromResults exactly: integer quartile halvings
      // from this round's statuses, merged into the ORIGINAL robots)
      if (cfg.adaptiveBackoff) {
        val overrides = scheduled.toSeq.groupBy(_._1.host).flatMap {
          case (h, es) =>
            val n = es.size.toLong
            val errors = es.count(_._2 != "ok").toLong
            val k = ((4L * errors) / n).toInt
            val b = math.max(1, cfg.defaultBudget >> k)
            if (b < cfg.defaultBudget) Some(h -> b) else None
        }
        robotsCur = graft.frontier.AdaptiveBudgets.mergeInto(robots, overrides)
      }
      frontier = (fresh ++ retries ++ deferred).toVector
      round += 1
    }

    SimResult(schedule.result(), seen.toSet, extractedUrls.toSet)
  }

  /** One round's schedule: robots filter, dedup (best (priority, attempt
    * desc, discoveredRound) per key), the capacity cut, then per-host
    * budgets in (priority, url_key) order. Returns (entry, slot) by host
    * and slot, and the deferred entries.
    */
  def scheduleRound(
      frontier: Seq[SimEntry],
      robots: RobotsRules,
      cfg: PolitenessConfig): (Vector[(SimEntry, Int)], Vector[SimEntry]) = {
    val deduped = frontier
      .filter(e => robots.allowed(e.host, e.url))
      .groupBy(_.urlKey)
      .map { case (_, es) => es.minBy(e => (e.priority, -e.attempt, e.discoveredRound)) }
      .toVector

    // global per-round capacity (the priority-queue cut): best
    // maxUrlsPerRound deduped entries by (priority, url_key); the rest
    // defer to later rounds. Mirrors FrontierRound.schedule's cut.
    val (inRound, capCut) =
      if (cfg.maxUrlsPerRound >= 0L && deduped.size > cfg.maxUrlsPerRound)
        deduped.sortBy(e => (e.priority, e.urlKey))
          .splitAt(cfg.maxUrlsPerRound.toInt)
      else (deduped, Vector.empty[SimEntry])

    val byHost = inRound.groupBy(_.host).toVector.sortBy(_._1).map { case (host, es) =>
      es.sortBy(e => (e.priority, e.urlKey)).splitAt(robots.budget(host, cfg))
    }
    (byHost.flatMap(_._1.zipWithIndex.map { case (e, i) => (e, i + 1) }),
      byHost.flatMap(_._2) ++ capCut)
  }

  private def statusOf(universe: Map[String, String], url: String): String =
    universe.get(url) match {
      case None => "missing"
      case Some(body) if body.contains(Extractor.ErrorSentinel) => "error_page"
      case _ => "ok"
    }
}
