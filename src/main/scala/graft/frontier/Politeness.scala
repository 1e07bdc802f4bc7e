package graft.frontier

/** Per-host politeness + robots rules (north_rule additions; the reference
  * has no robots handling — it fakes browser headers,
  * /root/reference/src/handler.py:191-208 — and paces with a fixed 1s sleep
  * + 0.5s request_delay + 0.5-1.5s jitter, handler.py:274,335,362).
  *
  * Defaults reproduce the reference's *budgeted* envelope: delayMs = 1500
  * (1s fixed + 0.5s inter-item), budget = pageSize fetches/host/round.
  *
  * The URL-seen set's only knobs here pick its probe. With
  * `cuckooSeenBuckets` at 0 (the default) fresh links take the exact
  * left-anti join against the seen set, with no prefilter; above 0 the
  * bucket-local cuckoo probe routes the definitely-new ones around it.
  * A round probes once, against the seen set ∪ its own keys; whether that
  * side is broadcast is Catalyst's choice under the session's
  * `spark.sql.autoBroadcastJoinThreshold` (see [[FrontierRound.notSeen]]).
  */
final case class PolitenessConfig(
    defaultBudget: Int = 10,
    defaultDelayMs: Long = 1500L,
    maxRetries: Int = 1, // one re-pass, like retry_failed_ids (handler.py:397-442)
    // global per-round capacity (-1 = unbounded, the reference shape): at a
    // 10^10-URL frontier a round cannot fetch budget×hosts urls — the
    // scheduler takes the best `maxUrlsPerRound` DEDUPED entries by
    // (priority, url_key) and defers the rest to later rounds. This is
    // what makes the frontier an actual PRIORITY QUEUE (and what gives
    // LinkRank.prioritize's host scores cross-host effect — without a
    // global cut, priorities only ever compete within one host's budget).
    maxUrlsPerRound: Long = -1L,
    // opt-in politeness backoff: next round's per-host budgets derive from
    // THIS round's observed statuses (AdaptiveBudgets quartile halvings),
    // merged into the ORIGINAL robots each round — a recovering host gets
    // its budget back automatically, robots-explicit budgets stay
    // authoritative. Mirrored exactly by CrawlSimulator (equivalence spec)
    adaptiveBackoff: Boolean = false,
    saltBuckets: Int = 8,
    // join-strategy hint for the fetch join's pages side (e.g. "merge").
    // Default None lets Catalyst pick: the join is a LEFT join, which can
    // build only its right side, so below the broadcast threshold that is
    // a broadcast of the PAGES table (url, html) every round. Set "merge"
    // when the pages table is bucketed by url so the plan is the at-scale
    // one — zero pages-side exchange, no driver-side broadcast build
    fetchJoinHint: Option[String] = None,
    // > 0 puts the bucket-LOCAL cuckoo probe in front of the exact seen
    // anti-join (SeenSet.notSeenCuckooBucketed: per-bucket filters built as
    // one distributed aggregation, candidates cogrouped with their bucket's
    // filter — nothing collected or broadcast). The 10^10-key path: a
    // 1%-fpp Bloom over 10^10 keys is ~12 GB (unbroadcastable) while
    // bucketed cuckoo filters stream executor-to-executor. In this local
    // build the filters are rebuilt per call; a deployment persists them
    // as a table bucketed by `bucket`
    cuckooSeenBuckets: Int = 0,
    cuckooExpectedPerBucket: Long = 1L << 16,
    // > 0 bounds the stored seen-set's manifest part list: when the prior
    // rounds' part list reaches this length, the next commit folds them
    // into one compacted table (written concurrently with the round's own
    // tables, inside the same atomic manifest publish). Without it a
    // 10^4-round crawl accumulates 10^4 parquet directories whose listing/
    // open cost dominates the resume scan and every per-round seen read —
    // the classic small-files failure. Amortized rewrite volume is
    // O(R²/threshold); the threshold trades that against part count
    compactSeenParts: Int = 0)

/** Parsed robots rules for one host. `sitemaps` carries the file's
  * `Sitemap:` directives (group-INDEPENDENT per the robots spec — they
  * apply regardless of user-agent section) for frontier seeding via
  * [[graft.sources.Sitemaps]].
  */
final case class HostRules(
    crawlDelayMs: Option[Long],
    budget: Option[Int],
    disallow: Seq[String],
    sitemaps: Seq[String] = Seq.empty,
    allow: Seq[String] = Seq.empty) {
  // rules pre-split ONCE per host (not per (frontier row × rule) inside
  // the schedule's broadcast filter); @transient lazy — rebuilt per
  // executor after broadcast deserialization, never shipped
  @transient lazy val disallowCompiled: Array[RobotsRules.CompiledRule] =
    disallow.iterator.filter(_.nonEmpty).map(RobotsRules.compile).toArray
  @transient lazy val allowCompiled: Array[RobotsRules.CompiledRule] =
    allow.iterator.filter(_.nonEmpty).map(RobotsRules.compile).toArray
}

final case class RobotsRules(byHost: Map[String, HostRules]) extends Serializable {
  def delayMs(host: String, cfg: PolitenessConfig): Long =
    byHost.get(host).flatMap(_.crawlDelayMs).getOrElse(cfg.defaultDelayMs)
  def budget(host: String, cfg: PolitenessConfig): Int =
    byHost.get(host).flatMap(_.budget).getOrElse(cfg.defaultBudget)

  /** RFC 9309 evaluation: among the rules matching the url's path, the
    * MOST SPECIFIC (longest) wins; an Allow beats a Disallow of equal
    * length. No matching rule ⇒ allowed. Rules support the standard `*`
    * (any octets) and trailing `$` (end anchor) wildcards — plain
    * prefixes behave exactly as before.
    */
  def allowed(host: String, url: String): Boolean = {
    val path = RobotsRules.pathOf(url)
    byHost.get(host).forall { r =>
      var d = -1
      r.disallowCompiled.foreach { c =>
        if (c.specificity > d && RobotsRules.matches(c, path))
          d = c.specificity
      }
      d < 0 || {
        var a = -1
        r.allowCompiled.foreach { c =>
          if (c.specificity > a && RobotsRules.matches(c, path))
            a = c.specificity
        }
        a >= d
      }
    }
  }
}

object RobotsRules {
  val empty: RobotsRules = RobotsRules(Map.empty)

  def pathOf(url: String): String = {
    val i = url.indexOf("://")
    if (i < 0) return url
    val rest = url.substring(i + 3)
    val slash = rest.indexOf('/')
    if (slash < 0) "/" else rest.substring(slash)
  }

  /** One robots rule, pre-split: `specificity` = raw rule length (the RFC
    * longest-match metric), `plain` set for wildcard-free rules, `parts`
    * for `*`-split globs.
    */
  final case class CompiledRule(specificity: Int, anchored: Boolean,
      plain: String, parts: Array[String])

  def compile(pattern: String): CompiledRule = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.dropRight(1) else pattern
    if (p.indexOf('*') < 0) CompiledRule(pattern.length, anchored, p, null)
    else CompiledRule(pattern.length, anchored, null, p.split("\\*", -1))
  }

  /** One compiled rule against one path: literal prefix match extended
    * with RFC 9309's `*` (any octet sequence) and trailing `$` (end
    * anchor). The classic greedy two-pointer glob — fixed head,
    * leftmost-first middle segments, suffix handled under the anchor.
    * Called per (frontier row × rule) in the schedule filter: zero
    * allocation (the split happened at compile).
    */
  def matches(r: CompiledRule, path: String): Boolean = {
    if (r.parts == null)
      return if (r.anchored) path == r.plain else path.startsWith(r.plain)
    val parts = r.parts
    if (!path.startsWith(parts(0))) return false
    var pos = parts(0).length
    val lastIdx = parts.length - 1
    var i = 1
    while (i < lastIdx) {
      val idx = path.indexOf(parts(i), pos)
      if (idx < 0) return false
      pos = idx + parts(i).length
      i += 1
    }
    val last = parts(lastIdx)
    if (r.anchored) path.length - last.length >= pos && path.endsWith(last)
    else path.indexOf(last, pos) >= 0
  }

  /** Convenience (specs, one-off checks): compile-then-match. */
  private[frontier] def ruleMatches(pattern: String, path: String): Boolean =
    matches(compile(pattern), path)

  /** robots.txt parser for the `*` group: Allow/Disallow rules,
    * Crawl-delay (seconds), and group-independent Sitemap lines.
    * RFC 9309 §2.1 group semantics: CONSECUTIVE `User-agent:` lines open
    * ONE group serving all of them — `User-agent: *` anywhere in the run
    * puts the following rules in scope; any non-user-agent line ends the
    * run, so a later `User-agent:` starts a fresh group.
    */
  def parseRobotsTxt(txt: String): HostRules = {
    var inStar = false
    var uaRun = false // inside a run of consecutive User-agent lines
    val disallow = scala.collection.mutable.ArrayBuffer.empty[String]
    val allow = scala.collection.mutable.ArrayBuffer.empty[String]
    val sitemaps = scala.collection.mutable.ArrayBuffer.empty[String]
    var delay: Option[Long] = None
    txt.split("\n").foreach { lineRaw =>
      val line = lineRaw.takeWhile(_ != '#').trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(colon + 1).trim
        // only recognized GROUP RULES end a User-agent run (RFC 9309
        // §2.2.4: other records — Sitemap, unknown keys — "MUST NOT
        // interfere" with group parsing; the Google reference parser
        // ignores them entirely). Crawl-delay counts as a rule HERE
        // because this parser honors it per-group.
        if (key == "disallow" || key == "allow" || key == "crawl-delay")
          uaRun = false
        key match {
          case "user-agent" =>
            if (uaRun) inStar = inStar || value == "*"
            else { inStar = value == "*"; uaRun = true }
          // group-independent per the spec (NOT gated on inStar); the
          // value is a URL, so the '#' comment strip above is safe only
          // because fragments are crawl-dropped anyway
          case "sitemap" => if (value.nonEmpty) sitemaps += value
          case "disallow" if inStar => if (value.nonEmpty) disallow += value
          case "allow" if inStar => if (value.nonEmpty) allow += value
          case "crawl-delay" if inStar =>
            try delay = Some((value.toDouble * 1000).toLong)
            catch { case _: NumberFormatException => }
          case _ =>
        }
      }
    }
    HostRules(delay, None, disallow.toSeq, sitemaps.toSeq, allow.toSeq)
  }

  def fromTexts(robots: Map[String, String]): RobotsRules =
    RobotsRules(robots.map { case (h, t) => h -> parseRobotsTxt(t) })
}
