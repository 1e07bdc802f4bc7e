package graft.frontier

import graft.extract.Extractor
import graft.model._
import graft.seen.{CuckooFilter, SeenSet}
import graft.store.{FrontierStore, Sizing}
import graft.url.Urls
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets

/** One frontier round — the Spark-native re-expression of the reference's
  * crawl loop (/root/reference/src/handler.py:444-497; lifecycle trace in
  * SURVEY.md §3.1): anti-join the candidate frontier against the URL-seen
  * set (exact left-anti join; reference analog: the in-memory
  * id sets, check_pages.py:584-591), rank per host and enforce the
  * politeness budget (the W6 window-agg contract), "fetch" by joining the
  * pages table on url, validate the error sentinel (F1), extract (P1),
  * discover outlinks, and emit deferred + retry (J6) + fresh links as the
  * next frontier. Every step is declarative Dataset/DataFrame work so
  * Catalyst prunes parquet columns (url, html only) and AQE handles skew.
  */
object FrontierRound {

  final case class SchedulePlan(
      scheduled: DataFrame, // FrontierEntry cols + slot + scheduled_delay_ms
      deferred: Dataset[FrontierEntry], // over-budget and cut rows, carried forward
      caches: Seq[DataFrame]) { // stage 1's first; unpersisted by the caller
    /** Stage 1's frame (fused dedup + rn1), cached unless read once. */
    def dedupedCache: DataFrame = caches.head
  }

  /** One round's outputs, every frame LAZY over the round's caches. The
    * four per-round tables (`scheduled` with its `round` column, `results`,
    * `extracted`, `metrics`; see [[tables]]) and `newFrontier` are what the
    * crawl loop materializes: written by the store commit, or
    * localCheckpointed without a store. They are by-name and lazy because
    * constructing a Dataset is never free — each one is an analyzer pass,
    * measured as part of the ~300ms/round driver-only plan-build cost
    * between rounds — and single-round callers (bench, specs) touch only
    * some of them.
    */
  final class RoundOutput(
      scheduled0: => DataFrame, // the schedule with its round column
      results0: => DataFrame, // FetchResult-shaped
      extracted0: => Dataset[Extracted],
      metrics0: => Dataset[RoundMetrics],
      val newFrontier: Dataset[FrontierEntry],
      // count(newFrontier) rides whatever action materializes it (the
      // crawl loop's frontier write or checkpoint) — the loop's "frontier
      // drained?" test and the next round's frontier bound read this
      // instead of launching a per-round isEmpty job
      val frontierObservation: org.apache.spark.sql.Observation,
      // free-rider metrics over the round superset (scheduled,
      // hosts_approx, fetched_ok, links) — readable after the first action
      // that materializes results, extracted or metrics
      val observation: org.apache.spark.sql.Observation,
      // intermediate cached frames; callers unpersist after materializing
      val caches: Seq[DataFrame]) {
    lazy val scheduled: DataFrame = scheduled0
    lazy val results: DataFrame = results0
    lazy val extracted: Dataset[Extracted] = extracted0
    lazy val metrics: Dataset[RoundMetrics] = metrics0

    /** The round tables by snapshot table name. */
    def tables: Map[String, DataFrame] = Map(
      "scheduled" -> scheduled,
      "results" -> results,
      "extracted" -> extracted.toDF(),
      "metrics" -> metrics.toDF())
  }

  /** Canonicalize raw (url, priority) pairs into frontier entries. */
  def toFrontier(spark: SparkSession, links: DataFrame, round: Int): Dataset[FrontierEntry] = {
    import spark.implicits._
    links
      .select(col("url"), col("priority"))
      .as[(String, Double)]
      .map { case (u, p) =>
        val canon = Urls.canonicalize(u)
        FrontierEntry(Urls.sha256Hex(canon), canon, Urls.host(canon), p, 0, round)
      }
  }

  /** Per-host budgeted scheduling, two-phase so a mega-host can never pin a
    * single task to its full frontier (SURVEY.md §4 "explicit physical
    * choices"): phase 1 ranks within (host, salt) — at most S tasks see the
    * mega-host, each keeping ≤ budget rows — phase 2 ranks the ≤ S·budget
    * survivors per host exactly. Slot k ⇒ scheduled_delay_ms = k·delay(host),
    * the window-agg rate limiting the north_rule names. Rows beyond the
    * budget are DEFERRED (carried to the next round), mirroring the
    * reference's bounded queue backpressure (handler.py:290, max_queue_size).
    *
    * One shuffle per step, in the simulator's order (robots → dedup → cap
    * → budgets):
    *  - stage 1 fuses dedup and the phase-1 rank into the (host, salt)
    *    exchange: every copy of a url lands in one partition, and one sort
    *    by (host, salt, priority, url_key, attempt desc, discovered_round)
    *    makes each key's FIRST row both its dedup winner and in rank order,
    *    so a streaming pass assigns rn1;
    *  - the capacity cut ([[cutByPriority]]) ranks stage 1's rows. In each
    *    (host, salt) group the kept rows are a prefix of the group's
    *    (priority, url_key) order, so their rn1 stands;
    *  - phase 2's per-host window is cached before its slot filter, and
    *    `scheduled` (slot ≤ budget) and the over-budget deferred rows
    *    (slot > budget) both read that cache: the window runs once.
    */
  def schedule(
      spark: SparkSession,
      frontier: Dataset[FrontierEntry],
      robots: RobotsRules,
      cfg: PolitenessConfig,
      // caller's upper bound on `frontier`'s row count, -1 if unknown (see
      // run()'s frontierSizeBound — the same value flows here). A bound at
      // or under the capacity proves the cut cannot bind and skips it. Both
      // rank columns are bounded by the (deduped, cut) frontier size, so a
      // bound at or under the uniform no-rules budget PROVES neither budget
      // filter can bind — the deferred branch is then empty by
      // construction and never planned.
      frontierSizeBound: Long = -1L): SchedulePlan = {
    import spark.implicits._
    // No robots rules (empty map — e.g. a budgets-open drain) means the
    // allow filter is vacuous and budget/delay are host-independent
    // constants: skip the typed filter (a full deserialize pass over the
    // frontier), the per-row UDF calls, and the two per-round broadcast
    // registrations outright. Identical semantics by construction —
    // RobotsRules.{allowed,budget,delayMs} on an empty map return
    // true/defaultBudget/defaultDelayMs for every host.
    val noRules = robots.byHost.isEmpty
    val (allowed, budgetOf, delayOf) =
      if (noRules)
        (frontier, lit(cfg.defaultBudget), lit(cfg.defaultDelayMs))
      else {
        // plain vals so the closures capture only the broadcasts (a lazy
        // val here compiles to a LazyRef capturing the SparkSession —
        // Task not serializable)
        val robotsB = spark.sparkContext.broadcast(robots)
        val cfgB = spark.sparkContext.broadcast(cfg)
        (frontier.filter(e => robotsB.value.allowed(e.host, e.url)),
          udf((host: String) => robotsB.value.budget(host, cfgB.value))
            .apply($"host"),
          udf((host: String) => robotsB.value.delayMs(host, cfgB.value))
            .apply($"host"))
      }

    // global per-round capacity: the priority-queue cut. Skipped entirely
    // when off (-1, the certified default paths) or when the caller's
    // frontier bound PROVES the cut cannot bind — the drain hot loop pays
    // nothing for the feature's existence.
    val capN = cfg.maxUrlsPerRound
    val capActive = capN >= 0L &&
      !(frontierSizeBound >= 0L && frontierSizeBound <= capN)
    // the cap bounds phase 2's input even when the caller's bound didn't
    val effBound = if (capActive) capN else frontierSizeBound
    // rn1 and slot never exceed the (deduped) frontier row count, so with a
    // uniform budget (no robots) at or above the bound, both budget
    // filters are vacuous and deferred is provably empty
    val budgetsCannotBind = noRules && effBound >= 0L &&
      effBound <= cfg.defaultBudget.toLong

    val stage1Raw = allowed.toDF()
      // one projection (salt appended in tuple order) instead of
      // withColumn + a post-sort select — two fewer analyzer passes on a
      // plan rebuilt every round
      .select($"url_key", $"url", $"host", $"priority", $"attempt",
        $"discovered_round",
        pmod(xxhash64($"url_key"), lit(cfg.saltBuckets)).cast("int").as("salt"))
      .repartition($"host", $"salt")
      .sortWithinPartitions($"host", $"salt", $"priority", $"url_key",
        $"attempt".desc, $"discovered_round")
      .as[(String, String, String, Double, Int, Int, Int)]
      .mapPartitions { it =>
        var curHost: String = null
        var curSalt = Int.MinValue
        var seen: java.util.HashSet[String] = null
        var rn = 0
        it.flatMap { case (key, url, host, prio, att, dr, salt) =>
          if (curHost == null || host != curHost || salt != curSalt) {
            curHost = host; curSalt = salt
            seen = new java.util.HashSet[String]()
            rn = 0
          }
          if (seen.add(key)) { // first occurrence == dedup winner, in rank order
            rn += 1
            Iterator.single((key, url, host, prio, att, dr, rn))
          } else Iterator.empty
        }
      }
      .toDF("url_key", "url", "host", "priority", "attempt",
        "discovered_round", "rn1")
    // cached only when phase 2 and the rn1 deferral both read stage 1. The
    // cut is otherwise its one reader: its range sampling (a cut of more
    // than one range partition) re-reads the materialized (host, salt)
    // shuffle, and every later read goes through
    // the cut's own cache — caching here costs more than that re-read
    // (traced crawl_drain: fewer jobs and less schedule CPU without it)
    val stage1 = if (!capActive && !budgetsCannotBind) stage1Raw.cache() else stage1Raw
    val (ranked, capCut, cutCaches) =
      if (!capActive) (stage1, None, Nil)
      else {
        val (kept, cut, caches) =
          cutByPriority(stage1, capN, Some(frontierSizeBound).filter(_ >= 0L))
        (kept, Some(cut), caches)
      }

    val phase2 = Window.partitionBy($"host").orderBy($"priority", $"url_key")
    val windowed = (if (budgetsCannotBind) ranked else ranked.filter($"rn1" <= budgetOf))
      .withColumn("slot", row_number().over(phase2))
      .cache()
    val scheduled = (if (budgetsCannotBind) windowed
                     else windowed.filter($"slot" <= budgetOf))
      .withColumn("scheduled_delay_ms", ($"slot" - 1).cast("long") * delayOf)
      .drop("rn1")

    // deferred = dropped by phase 1 ∪ over-budget after phase 2 ∪ cut, all
    // read from the caches; cut rows re-compete next round, never drop
    val entryCols = Seq($"url_key", $"url", $"host", $"priority", $"attempt",
      $"discovered_round")
    val budgetDeferred =
      if (budgetsCannotBind) Nil
      else Seq(ranked.filter($"rn1" > budgetOf), windowed.filter($"slot" > budgetOf))
    val deferred = (budgetDeferred ++ capCut)
      .map(_.select(entryCols: _*).as[FrontierEntry])
      .reduceOption(_.union(_))
      .getOrElse(spark.emptyDataset[FrontierEntry])
    SchedulePlan(scheduled, deferred, Seq(stage1, windowed) ++ cutCaches)
  }

  /** The priority-queue cut over a raw frontier: EXACT global top-`n`
    * deduped entries by (priority, url_key), with the cut remainder and
    * the caches both read, which the caller unpersists. Dedup first, by
    * the winner rule of stage 1 and of the simulator (min (priority,
    * -attempt, discovered_round) per key), so capacity counts URLs, not
    * discovery copies; then the [[schedule]]'s own [[cutByPriority]],
    * which, with no bound on `entries`, ranges into the session's shuffle
    * partitions.
    */
  private[graft] def capByPriority(
      spark: SparkSession,
      entries: Dataset[FrontierEntry],
      n: Long): (Dataset[FrontierEntry], Dataset[FrontierEntry], Seq[DataFrame]) = {
    import spark.implicits._
    // cached: the cut's range sampling and its shuffle both read it
    val deduped = entries.toDF()
      .groupBy($"url_key")
      .agg(min_by(
        struct($"url", $"host", $"priority", $"attempt", $"discovered_round"),
        struct($"priority", (-$"attempt").as("na"), $"discovered_round")).as("e"))
      .select($"url_key", $"e.url", $"e.host", $"e.priority", $"e.attempt",
        $"e.discovered_round")
      .cache()
    val (kept, cut, caches) = cutByPriority(deduped, n, bound = None)
    (kept.as[FrontierEntry], cut.as[FrontierEntry], deduped +: caches)
  }

  /** The exact global top-`n` of `rows` (one row per url_key, any other
    * columns) by (priority, url_key), as (kept, cut, the cache both read) —
    * distributed, never a driver-side take (n is ~10^7 at the design
    * point). The prefix-sum pattern (tokenize_pack): range-partition on
    * the cut order, ONE per-partition count job, then a row is kept iff
    * its partition's cumulative offset (an array literal) plus its index
    * in the partition is under `n` — no global window, no typed pass.
    * `bound`, the caller's upper bound on the row count (None if unknown),
    * sizes the range exchange at one partition per
    * [[FrontierStore.RowsPerFile]] rows, at most the session's shuffle
    * partitions: a round under RowsPerFile rows ranges into one partition,
    * which Spark's RangePartitioner plans without its sampling job.
    */
  private def cutByPriority(rows: DataFrame, n: Long, bound: Option[Long])
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    val spark = rows.sparkSession
    import spark.implicits._
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions
    val buckets = bound.flatMap(Sizing.units(_, FrontierStore.RowsPerFile))
      .fold(shufflePartitions)(_.min(shufflePartitions))
    // the row id (partition index << 33 | index within the partition) is
    // STAMPED once and cached with the frame (the packSequences prefix-sum
    // precedent), so the count job and both filters read the same stamp. A
    // recomputed block stamps the same id: it re-reads the same
    // range-partitioned shuffle output, whose rows the total sort on
    // (priority, url_key) (url_key is unique) puts in one order
    val parted = rows
      .repartitionByRange(buckets, $"priority", $"url_key")
      .sortWithinPartitions($"priority", $"url_key")
      .withColumn("__id", monotonically_increasing_id())
      .cache()
    val pid = shiftright($"__id", 33).cast("int")
    val counts = parted.groupBy(pid).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until buckets).scanLeft(0L)((o, p) => o + counts.getOrElse(p, 0L))
    val kept = element_at(typedLit(offsets.toArray), pid + 1) +
      $"__id".bitwiseAND((1L << 33) - 1) < n
    (parted.filter(kept).drop("__id"), parted.filter(!kept).drop("__id"), Seq(parted))
  }

  /** Seen-set reduction: the exact left-anti join of `candidates` against
    * `seenKeys`, or with `cfg.cuckooSeenBuckets > 0` the bucket-local
    * cuckoo probe in front of it
    * ([[graft.seen.SeenSet.notSeenCuckooBucketed]], the 10^10-key shape),
    * whose maybe-seen rows take the same exact join. No Bloom filter: one
    * of fixed geometry passes almost nothing through as definitely new
    * past ~10^7 keys, and the exact join runs every round regardless.
    * A round calls it once, against the prior seen set ∪ its own keys;
    * Catalyst broadcasts that side while it fits the session's
    * `spark.sql.autoBroadcastJoinThreshold`.
    */
  def notSeen(
      spark: SparkSession,
      candidates: Dataset[FrontierEntry],
      seenKeys: DataFrame, // url_key first; other columns are pruned
      cfg: PolitenessConfig): Dataset[FrontierEntry] = {
    import spark.implicits._
    if (cfg.cuckooSeenBuckets > 0)
      SeenSet.notSeenCuckooBucketed(spark, candidates, seenKeys,
        cfg.cuckooSeenBuckets, cfg.cuckooExpectedPerBucket)
    else
      candidates.join(seenKeys.select($"url_key"), Seq("url_key"), "left_anti")
        .as[FrontierEntry]
  }

  /** Per-partition round metrics of a round superset: one
    * [[RoundMetrics]] row per NON-EMPTY partition of `superset` (columns
    * `status` and `n_links`), keyed by its `spark_partition_id()`. A fold
    * inside each partition — the same rows as grouping on the partition id,
    * without that grouping's exchange and job.
    */
  private[graft] def metricsOf(superset: DataFrame, round: Int): Dataset[RoundMetrics] = {
    import superset.sparkSession.implicits._
    superset
      .select(spark_partition_id(), $"status", $"n_links")
      .as[(Int, String, Int)]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          var pid = 0
          var rows, ok, errors, missing, links = 0L
          it.foreach { case (p, status, n) =>
            pid = p
            rows += 1
            status match {
              case "ok" => ok += 1
              case "error_page" => errors += 1
              case "missing" => missing += 1
              case _ =>
            }
            links += n
          }
          Iterator.single(RoundMetrics(round, pid, rows, ok, errors, missing, ok, links))
        }
      }
  }

  /** Run one round against the pages table. `pages` needs only (url, html)
    * — Catalyst prunes the rest at the parquet scan. The schedule's caches
    * (see [[schedule]]) are the round's only schedule-side materialization:
    * the round tables, the fetch join, the seen check and the deferred
    * rows all read them. Fresh links take one [[notSeen]] anti-join against
    * the prior seen set ∪ this round's scheduled keys.
    */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      frontier: Dataset[FrontierEntry],
      seenKeys: Option[DataFrame], // cumulative BEFORE this round; url_key first
      round: Int,
      robots: RobotsRules = RobotsRules.empty,
      cfg: PolitenessConfig = PolitenessConfig(),
      // caller's upper bound on this round's FRONTIER row count (both real
      // callers pass the previous round's OBSERVED frontier count, which is
      // exact). It lets schedule() skip a capacity cut that cannot bind and
      // drop the provably-empty deferred subtree under the uniform no-rules
      // budget, so it must truly bound the frontier: an under-bound there
      // would silently drop deferred rows. -1 (unknown) plans both, correct
      // at any size.
      frontierSizeBound: Long = -1L): RoundOutput = {
    import spark.implicits._

    val plan = schedule(spark, frontier, robots, cfg,
      frontierSizeBound = frontierSizeBound)
    val scheduled = plan.scheduled

    // "fetch" = equi-join with the pages table on url (SURVEY.md S2: the
    // Common-Crawl-style table lookup); left join so absent pages become
    // fetch failures. html is the only page column touched. A LEFT join
    // can build only its right side, so below the broadcast threshold
    // Catalyst broadcasts the PAGES side (url, html), not the schedule;
    // `cfg.fetchJoinHint` ("merge" over a url-bucketed table) avoids that.
    val pagesSide = cfg.fetchJoinHint.foldLeft(pages.select($"url", $"html"))(_.hint(_))
    val fetched = scheduled
      .join(pagesSide, Seq("url"), "left")

    // ONE pass over page bodies per round: classify + extract + discover
    // outlinks in a single typed mapPartitions (the body is decoded to a
    // String exactly once). The cached output is html-FREE (status +
    // extracted content + links), so no consumer ever re-reads or re-joins
    // the pages table this round — at 100 TB that is the difference
    // between one and three full scans per round.
    //
    // Outlink local dedup is an EXACT per-partition HashSet keyed on
    // hash64(url, priority) — an approximate filter here would silently
    // DROP a genuinely-new URL on a false positive (64-bit hash collisions
    // are negligible vs a cuckoo filter's 16-bit fingerprints). Cross-page
    // duplicates with different priorities survive to the exact
    // min-priority dedup in the next round's schedule().
    val processed = fetched
      .select($"url_key", $"url", $"host", $"priority", $"attempt",
        $"discovered_round", $"slot", $"scheduled_delay_ms", $"html")
      .as[(String, String, String, Double, Int, Int, Int, Long, Array[Byte])]
      .mapPartitions { it =>
        val localLinks = new java.util.HashSet[Long](1 << 16)
        it.map { case (key, u, host, prio, att, dr, slot, delay, html) =>
          if (html == null)
            ProcessedPage(key, u, host, prio, att, dr, slot, delay,
              "missing", None, Nil)
          else {
            val body = new String(html, StandardCharsets.UTF_8)
            if (body.contains(Extractor.ErrorSentinel))
              ProcessedPage(key, u, host, prio, att, dr, slot, delay,
                "error_page", None, Nil)
            else {
              val fileId = Urls.ideaId(u).getOrElse(Urls.sha256Hex(u))
              val ex = Extractor.extract(u, fileId, body)
              val links = Outlinks.extract(u, body).collect {
                case (link, lp) if localLinks.add(CuckooFilter.hash64(s"$link#$lp")) =>
                  OutLink(link, lp)
              }
              ProcessedPage(key, u, host, prio, att, dr, slot, delay,
                "ok", Some(ex), links)
            }
          }
        }
      }
      .cache()

    // the round SUPERSET: everything results, extracted and metrics need,
    // links reduced to their count (fresh candidates are derived from the
    // cache below). Each of those tables is ONE projection of it.
    val superset = processed
      .select($"url_key", $"url", $"host", $"attempt", $"status",
        $"extracted", size($"links").as("n_links"))

    // free-rider metrics (A4/A2 surfaces), attached to the SUPERSET so
    // every derived materialization delivers them — the crawl loop's round
    // tables, or a bare extracted.count() (Bench.singleRound). One attach
    // point means no round can leak the observation's session listener by
    // materializing a sibling frame instead of `results` (the Plans.scala
    // lesson). "scheduled" and "links" bound the next frontier (retries ≤
    // superset rows, fresh links ≤ outlinks) before it is written. With a
    // pages table carrying DUPLICATE urls the fetch join multiplies
    // superset rows, so "scheduled" here can overcount the schedule — its
    // consumers are overcount-safe (the crawl loop sizes committed files
    // and bounds the next frontier by it, as an upper bound).
    val observation = new org.apache.spark.sql.Observation()
    val obsSuperset = superset.observe(observation,
      count(lit(1)).as("scheduled"),
      approx_count_distinct($"host").as("hosts_approx"),
      sum(when($"status" === "ok", 1L).otherwise(0L)).as("fetched_ok"),
      sum($"n_links").cast("long").as("links"))

    val rawLinks = processed
      .select(explode($"links").as("l"))
      .select($"l.url".as("url"), $"l.priority".as("priority"))

    // seen set after this round = everything scheduled (attempted), like the
    // reference's successful∪failed bookkeeping (handler.py:134-141)
    val newSeenKeys = scheduled.select($"url_key")

    // Fresh-link seen check (J1, the central frontier op): fresh links must
    // not include anything ever scheduled — one anti-join against the
    // cumulative seen set ∪ this round's schedule. Not cached: the next
    // frontier is its only reader.
    val candidates = toFrontier(spark, rawLinks, round + 1)
    val fresh = notSeen(spark, candidates,
      seenKeys.fold(newSeenKeys)(_.select($"url_key").union(newSeenKeys)), cfg)

    // retries re-enter the frontier bypassing the seen check (J6,
    // handler.py:397-442: one re-pass for failures). `processed` still
    // carries every schedule column, so no re-join with `scheduled` needed.
    val retries = processed
      .filter($"status" =!= "ok" && $"attempt" + 1 <= cfg.maxRetries)
      .select($"url_key", $"url", $"host", $"priority",
        ($"attempt" + 1).as("attempt"), $"discovered_round")
      .as[FrontierEntry]

    // the loop-termination count rides the action that materializes the
    // next frontier (the crawl loop's write or checkpoint) — no separate
    // isEmpty/count job at the top of the next iteration
    val frontierObservation = new org.apache.spark.sql.Observation()
    val newFrontier = fresh.union(retries).union(plan.deferred)
      .observe(frontierObservation, count(lit(1)).as("rows"))

    new RoundOutput(
      // the committed schedule is the PRE-join frame: exactly one row per
      // scheduled url even when the pages table carries duplicate urls
      // (results, extracted and metrics are post-join frames)
      scheduled.withColumn("round", lit(round)),
      obsSuperset.select($"url_key", $"url", $"host", $"attempt",
        lit(round).as("round"), $"status"),
      obsSuperset.filter($"status" === "ok").select($"extracted.*").as[Extracted],
      metricsOf(obsSuperset, round),
      newFrontier, frontierObservation, observation,
      processed.toDF() +: plan.caches)
  }
}
