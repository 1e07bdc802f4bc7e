package graft.frontier

import graft.extract.Extractor
import graft.model._
import graft.seen.{CuckooFilter, SeenSet}
import graft.url.Urls
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets

/** One frontier round — the Spark-native re-expression of the reference's
  * crawl loop (/root/reference/src/handler.py:444-497; lifecycle trace in
  * SURVEY.md §3.1): anti-join the candidate frontier against the URL-seen
  * set (bloom prefilter + exact left-anti; reference analog: the in-memory
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
      deferred: Dataset[FrontierEntry], // over-budget rows, carried forward
      dedupedCache: DataFrame) // cached intermediate; unpersisted by caller

  /** Every per-round table as a LAZY projection over the round's two
    * checkpoints (schedule and superset) — what
    * [[RoundOutput.checkpointRound]] returns. The frames survive the
    * round's cache release (they read the checkpoints' blocks), so the
    * crawl loop, with or without a store, pays one checkpoint wave per
    * round instead of one materialization per table.
    */
  final case class CheckpointedRound(
      seenDelta: DataFrame, // url_key of everything scheduled this round
      scheduled: DataFrame, // schedule cols incl. slot + delay (no round col)
      results: DataFrame,
      extracted: DataFrame,
      metrics: DataFrame)

  /** results/extracted are BY-NAME + lazy: they are projections nothing in
    * the crawl loop reads (it uses the checkpointed round's frames
    * instead), and constructing a Dataset is never free — each one is an
    * analyzer pass, measured as part of the ~300ms/round driver-only
    * plan-build cost between rounds. Single-round callers (bench, specs)
    * touch them and pay the one-time analysis.
    */
  final class RoundOutput(
      results0: => DataFrame, // FetchResult-shaped
      extracted0: => Dataset[Extracted],
      val newFrontier: Dataset[FrontierEntry],
      // cumulative seen-set bloom AFTER this round (incrementally
      // maintained: prior bloom ∪ this round's delta); carry into the next
      // round's `seenBloom` so the filter is never rebuilt over the
      // cumulative set. A THUNK (memoized): on the small-round path the
      // delta-bloom build is NOT needed by this round's own plans — only
      // by the next round — so the caller invokes it concurrently with the
      // checkpoint wave instead of paying it as a sequential
      // per-round job (on that path it first waits for the wave to fill
      // the schedule cache — see buildBloomAfter). Safe to run while this
      // round's jobs probe the prior bloom: mergeInPlace only SETS bits,
      // and every intermediate bit state still covers the prior seen set
      // (a bloom-negative probe at any instant is a true "not previously
      // seen"; extra bits only move rows onto the exact anti-join). The
      // caller must await it before unpersisting `caches` (the delta
      // build reads the schedule cache)
      val seenBloomAfter: () => Option[org.apache.spark.util.sketch.BloomFilter],
      // count(newFrontier) rides whatever action materializes it (the
      // crawl loop's localCheckpoint) — the loop's "frontier drained?"
      // test and the next round's frontier bound read this instead of
      // launching a per-round isEmpty job
      val frontierObservation: org.apache.spark.sql.Observation,
      // free-rider metrics over `results` (scheduled, hosts_approx,
      // fetched_ok) — readable after the first action that materializes it
      val observation: org.apache.spark.sql.Observation,
      // the crawl loop's one materialization path: checkpoints the
      // schedule and the round's html-free superset ONCE and returns every
      // per-round table as a lazy projection over them. SAFE to invoke
      // CONCURRENTLY with the big job that populates the caches (the
      // crawl loop does — the block
      // manager's per-partition locks make whichever task arrives first
      // compute a partition while the other waits then reads)
      val checkpointRound: () => CheckpointedRound,
      // intermediate cached frames; callers unpersist after materializing
      val caches: Seq[DataFrame]) {
    lazy val results: DataFrame = results0
    lazy val extracted: Dataset[Extracted] = extracted0
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
    * Frontier dedup + phase-1 rank are FUSED into a single exchange: since
    * host and salt are both functions of the url, every copy of a url lands
    * in the same (host, salt) partition. One spill-able
    * `sortWithinPartitions(host, salt, priority, url_key, attempt desc,
    * discovered_round)` makes the FIRST occurrence of each url_key
    * simultaneously (a) the dedup winner — copies of a key are ordered by
    * exactly the dedup tiebreak — and (b) already in (priority, url_key)
    * rank order within its (host, salt) group, so a streaming
    * mapPartitions pass assigns rn1 with a per-group url_key HashSet and no
    * second exchange or window sort. (Previously: three exchanges —
    * url_key dedup window, (host,salt) phase-1 window, host phase-2
    * window; the first two collapse into this one.)
    */
  def schedule(
      spark: SparkSession,
      frontier: Dataset[FrontierEntry],
      robots: RobotsRules,
      cfg: PolitenessConfig,
      // caller's upper bound on `frontier`'s row count, -1 if unknown (see
      // run()'s frontierSizeBound — the same value flows here). Both rank
      // columns are bounded by the (deduped) frontier size, so a bound at
      // or under the uniform no-rules budget PROVES neither budget filter
      // can bind — the deferred branch is then empty by construction and
      // its whole subtree (a second window + exchange over the stage-1
      // cache, two query stages per round) is dropped from the plan.
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
    val (inFrontier, capCut) =
      if (!capActive) (allowed, spark.emptyDataset[FrontierEntry])
      else capByPriority(spark, allowed, capN)
    // the cap bounds stage-1's input even when the caller's bound didn't
    val effBound =
      if (capActive) capN
      else frontierSizeBound

    // rn1 and slot never exceed the (deduped) frontier row count, so with a
    // uniform budget (no robots) at or above the caller's frontier-size
    // bound, both budget filters are vacuous and deferred is provably empty
    val budgetsCannotBind = noRules && effBound >= 0L &&
      effBound <= cfg.defaultBudget.toLong

    val stage1Raw = inFrontier.toDF()
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
    // the cache pays off only ungated, where stage1 has THREE readers
    // (scheduled + the two deferred filters); gated, deferred is an empty
    // relation and `scheduled` (itself cached by run()) is the sole
    // reader — caching would serialize every deduped frontier row for
    // nothing on the drain hot loop. Callers' unpersist of a non-cached
    // frame is a no-op.
    val stage1 = if (budgetsCannotBind) stage1Raw else stage1Raw.cache()

    val phase2 = Window.partitionBy($"host").orderBy($"priority", $"url_key")
    val stage2 = (if (budgetsCannotBind) stage1
                  else stage1.filter($"rn1" <= budgetOf))
      .withColumn("slot", row_number().over(phase2))
    val scheduled = (if (budgetsCannotBind) stage2
                     else stage2.filter($"slot" <= budgetOf))
      .withColumn("scheduled_delay_ms", ($"slot" - 1).cast("long") * delayOf)
      .drop("rn1")

    // deferred = dropped by phase 1 ∪ over-budget after phase 2 — both
    // derived from the rank columns directly (no anti-join / extra shuffle)
    val entryCols = Seq($"url_key", $"url", $"host", $"priority", $"attempt",
      $"discovered_round")
    val budgetDeferred =
      if (budgetsCannotBind) spark.emptyDataset[FrontierEntry]
      else stage1.filter($"rn1" > budgetOf).select(entryCols: _*)
        .union(stage2.filter($"slot" > budgetOf).select(entryCols: _*))
        .as[FrontierEntry]
    // capacity-cut rows are deferred work, not dropped — they re-enter the
    // frontier and compete again next round
    val deferred =
      if (capActive) budgetDeferred.union(capCut) else budgetDeferred
    SchedulePlan(scheduled, deferred, stage1)
  }

  /** The priority-queue cut: EXACT global top-`n` deduped frontier entries
    * by (priority, url_key), returned with the cut remainder — distributed,
    * never a driver-side take (n is ~10^7 at the design point).
    *
    * Dedup first (identical winner rule to stage-1's fused dedup: min by
    * (priority, -attempt, discovered_round) per key — and to the
    * simulator's, CrawlSimulator.scala) so capacity counts URLS, not
    * discovery copies. The cut is the distributed prefix-sum pattern
    * (tokenize_pack): range-partition on the cut order, ONE bounded
    * per-partition count job (≤ `buckets` rows to the driver), broadcast
    * cumulative offsets, then each partition streams its rows against its
    * own offset — no global window, no single-task rank. The
    * range-partitioned sort is cached for exactly the two passes (count +
    * flag) and released after the flag pass materializes.
    */
  private[graft] def capByPriority(
      spark: SparkSession,
      entries: Dataset[FrontierEntry],
      n: Long): (Dataset[FrontierEntry], Dataset[FrontierEntry]) = {
    import spark.implicits._
    // checkpointed so the range partitioner's boundary-SAMPLING pass and
    // the shuffle itself both read the materialized frame — an
    // unmaterialized child here runs the full-frontier aggregation TWICE
    // per capped round (sampling job + real shuffle)
    val deduped = entries.toDF()
      .groupBy($"url_key")
      .agg(min_by(
        struct($"url", $"host", $"priority", $"attempt", $"discovered_round"),
        struct($"priority", (-$"attempt").as("na"), $"discovered_round")).as("e"))
      .select($"url_key", $"e.url", $"e.host", $"e.priority", $"e.attempt",
        $"e.discovered_round")
      .localCheckpoint(true)
    if (n <= 0L) // capacity 0: everything defers (degenerate but well-defined)
      return (spark.emptyDataset[FrontierEntry], deduped.as[FrontierEntry])
    val buckets = spark.sessionState.conf.numShufflePartitions
    // the pid is STAMPED once and pinned with the frame (the
    // packSequences prefix-sum precedent): the count job and the flag
    // pass cannot disagree on spark_partition_id under recompute — an
    // independent re-evaluation over a cache would rest on cache hits
    val parted = deduped
      .repartitionByRange(buckets, $"priority", $"url_key")
      .sortWithinPartitions($"priority", $"url_key")
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val counts = parted.groupBy($"__pid").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = new Array[Long](buckets + 1)
    var pid = 0
    while (pid < buckets) {
      offsets(pid + 1) = offsets(pid) + counts.getOrElse(pid, 0L)
      pid += 1
    }
    val offB = spark.sparkContext.broadcast(offsets)
    // the flag map is a trivial per-row projection over the pinned frame —
    // the kept/cut filters each re-run it against the checkpoint, which is
    // cheaper than materializing a third frontier-sized frame
    val flagged = parted
      .as[(String, String, String, Double, Int, Int, Int)]
      .mapPartitions { it =>
        var idx = 0L
        it.map { case (k, u, h, p, a, d, pd) =>
          idx += 1
          (k, u, h, p, a, d, offB.value(pd) + idx <= n)
        }
      }
      .toDF("url_key", "url", "host", "priority", "attempt",
        "discovered_round", "__kept")
    (flagged.filter($"__kept").drop("__kept").as[FrontierEntry],
      flagged.filter(!$"__kept").drop("__kept").as[FrontierEntry])
  }

  /** Seen-set reduction, in one of two bodies, each ending in the exact
    * left-anti join — prefilters route rows, they never drop one:
    *  - `cfg.cuckooSeenBuckets > 0`: the bucket-local cuckoo probe
    *    ([[graft.seen.SeenSet.notSeenCuckooBucketed]]), the 10^10-key shape;
    *  - otherwise a split on `bloom`, a filter the caller built over a
    *    superset of `seenKeys` (FrontierCrawl keeps one across rounds).
    *    Bloom-negative candidates are new for certain and skip the join;
    *    the "maybe seen" rest take it. Without a filter every candidate is
    *    "maybe seen", i.e. the plain exact anti-join.
    * Nothing here builds a filter.
    */
  def notSeen(
      spark: SparkSession,
      candidates: Dataset[FrontierEntry],
      seenKeys: DataFrame, // single column url_key
      cfg: PolitenessConfig,
      bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None): Dataset[FrontierEntry] = {
    import spark.implicits._
    if (cfg.cuckooSeenBuckets > 0)
      return graft.seen.SeenSet.notSeenCuckooBucketed(spark, candidates, seenKeys,
        cfg.cuckooSeenBuckets, cfg.cuckooExpectedPerBucket)
    def exact(c: Dataset[FrontierEntry]): Dataset[FrontierEntry] =
      c.join(seenKeys, Seq("url_key"), "left_anti").as[FrontierEntry]
    bloom match {
      case None => exact(candidates)
      case Some(b) =>
        val bloomB = spark.sparkContext.broadcast(b)
        // column-level probe on url_key only: a typed filter here would
        // deserialize the full FrontierEntry per row on BOTH branch scans
        // of the candidates cache
        val mightContain = udf((k: String) => bloomB.value.mightContainString(k))
        candidates.filter(!mightContain($"url_key"))
          .union(exact(candidates.filter(mightContain($"url_key"))))
    }
  }

  /** Keys a round may anti-join as a broadcast relation: the session's
    * `spark.sql.autoBroadcastJoinThreshold` at ~100 B per key (a url_key
    * is a 64-char sha256 hex, about 100 B as a broadcast-relation row), so
    * the default 10 MB threshold admits ~10^5 keys. A disabled threshold
    * (-1) admits none, which routes every round to the large-round plan.
    */
  def broadcastDeltaMaxKeys(spark: SparkSession): Long =
    math.max(spark.sessionState.conf.autoBroadcastJoinThreshold, 0L) / 100L

  /** Run one round against the pages table. `pages` needs only (url, html)
    * — Catalyst prunes the rest at the parquet scan.
    */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      frontier: Dataset[FrontierEntry],
      seenKeys: Option[DataFrame], // cumulative BEFORE this round
      round: Int,
      robots: RobotsRules = RobotsRules.empty,
      cfg: PolitenessConfig = PolitenessConfig(),
      // cumulative bloom over seenKeys, maintained by the caller across
      // rounds (mutated here by merging this round's delta). When absent
      // but seenKeys is present, the seen check is the exact anti-join and
      // no delta filter is built (it could not cover the prior seen set).
      seenBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None,
      // caller's upper bound on this round's FRONTIER row count (both real
      // callers pass the previous round's OBSERVED frontier count, which is
      // exact). It therefore also bounds the schedule (schedule ⊆
      // frontier). A known bound within the broadcast gate removes the
      // eager per-round count job — the one removable job in the drain's
      // per-round critical chain — and a bound under the uniform no-rules
      // budget drops the provably-empty deferred subtree (see schedule());
      // -1 (unknown) keeps the prior behavior, correct at any size.
      frontierSizeBound: Long = -1L): RoundOutput = {
    import spark.implicits._

    val plan = schedule(spark, frontier, robots, cfg,
      frontierSizeBound = frontierSizeBound)
    val scheduled = plan.scheduled.cache()
    // the cuckoo seen path never consults a bloom (notSeen short-circuits
    // before the bloom branch), so building one there would be a per-round
    // job + merge feeding a structure nothing reads
    val willBuildBloom =
      cfg.cuckooSeenBuckets == 0 && !(seenKeys.isDefined && seenBloom.isEmpty)
    val broadcastMaxKeys = broadcastDeltaMaxKeys(spark)
    // a caller-known bound inside the broadcast gate proves the round
    // broadcast-delta-safe WITHOUT counting it. NOTE: an OVER-bound only
    // routes a round to the (always-correct) large-round plan here, but
    // the bound is correctness-critical upstream — schedule()'s
    // empty-deferred gate requires it to truly bound the FRONTIER row
    // count (see the frontierSizeBound parameter doc); an under-bound
    // there would silently drop deferred rows
    val knownSmall = frontierSizeBound >= 0L &&
      frontierSizeBound <= broadcastMaxKeys
    // eager count (a per-round job): only when the bound is unknown/large.
    // It forces the cache in one pass AT FULL PARALLELISM — required ahead
    // of the EAGER bloom build below: otherwise the bloom's
    // coalesce(BloomBuildParallelism) would be the first action through the
    // cache and the whole schedule pipeline (exchange read, sort, rank,
    // cache write) would compute on `BloomBuildParallelism` tasks — a
    // serial region that poisons scaling. On the knownSmall path the bloom
    // build is deferred behind the observation instead (buildBloomAfter),
    // so the big job populates the cache first and no count job runs.
    val eagerCount = if (!knownSmall) scheduled.count() else -1L
    // small/medium rounds: this round's delta fits a broadcast exact
    // anti-join (see the fresh-link regimes below, where this routes)
    val deltaBroadcastable = knownSmall ||
      (eagerCount >= 0L && eagerCount <= broadcastMaxKeys)

    // "fetch" = equi-join with the pages table on url (SURVEY.md S2: the
    // Common-Crawl-style table lookup); left join so absent pages become
    // fetch failures. html is the only page column touched.
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

    // the round SUPERSET: everything every per-round table needs, links
    // reduced to their count (outlinks never outlive the round — fresh
    // candidates are derived from the cache below — so checkpointing them
    // would copy dead bytes). Each table is ONE projection of this frame,
    // over the cache here and over the checkpointRound frame in the crawl
    // loop.
    val superset = processed
      .select($"url_key", $"url", $"host", $"priority", $"attempt",
        $"discovered_round", $"slot", $"scheduled_delay_ms", $"status",
        $"extracted", size($"links").as("n_links"))
    def resultsOf(p: DataFrame): DataFrame =
      p.select($"url_key", $"url", $"host", $"attempt",
        lit(round).as("round"), $"status")
    def extractedOf(p: DataFrame): Dataset[Extracted] =
      p.filter($"status" === "ok").select($"extracted.*").as[Extracted]
    def scheduleOf(p: DataFrame): DataFrame =
      p.select($"url_key", $"url", $"host", $"priority", $"attempt",
        $"discovered_round", $"slot", $"scheduled_delay_ms")
    def metricsOf(p: DataFrame): Dataset[RoundMetrics] = p
      .withColumn("partition_id", spark_partition_id())
      .groupBy($"partition_id")
      .agg(
        count(lit(1)).as("scheduled"),
        sum(when($"status" === "ok", 1L).otherwise(0L)).as("fetched_ok"),
        sum(when($"status" === "error_page", 1L).otherwise(0L)).as("error_pages"),
        sum(when($"status" === "missing", 1L).otherwise(0L)).as("missing"),
        sum($"n_links").cast("long").as("outlinks"))
      .select(lit(round).as("round"), $"partition_id", $"scheduled",
        $"fetched_ok", $"error_pages", $"missing",
        $"fetched_ok".as("extracted"), $"outlinks")
      .as[RoundMetrics]

    // free-rider metrics (A4/A2 surfaces), attached to the SUPERSET so
    // every derived materialization delivers them — the crawl loop's wide
    // checkpoint below, or a bare extracted.count() (Bench.singleRound).
    // One attach point means no round can leak the observation's session
    // listener by materializing a sibling frame instead of `results` (the
    // Plans.scala lesson). With a pages table carrying DUPLICATE urls the
    // fetch join multiplies superset rows, so "scheduled" here can
    // overcount the schedule — its consumers are overcount-safe (the
    // delta-bloom build only waits for it to arrive, and the crawl loop
    // sizes committed files by it, as an upper bound; the broadcast gate
    // uses the caller's bound, not this).
    val observation = new org.apache.spark.sql.Observation()
    val obsSuperset = superset.observe(observation,
      count(lit(1)).as("scheduled"),
      approx_count_distinct($"host").as("hosts_approx"),
      sum(when($"status" === "ok", 1L).otherwise(0L)).as("fetched_ok"))
    // lazy: analyzed only if a caller reads them (see RoundOutput Scaladoc)
    lazy val results = resultsOf(obsSuperset)

    lazy val checkpointedRound: CheckpointedRound = {
      // two CONCURRENT cache-read checkpoints (one wave):
      //  - narrow = the pre-join schedule frame — exactly one row per
      //    scheduled url even when the pages table carries duplicate urls
      //    (the fetch join multiplies superset rows, and the committed
      //    schedule is the pre-join table),
      //    and the frame later rounds' SEEN scans iterate stays ~8 small
      //    columns instead of the full extracted payload;
      //  - wide = the superset, for results/extracted/metrics (which have
      //    always been post-join frames). Its materialization also fires
      //    the free-rider observation.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fNarrow = Future(scheduled.localCheckpoint(true))
      val ck = obsSuperset.localCheckpoint(true)
      val narrow = Await.result(fNarrow, Duration.Inf)
      CheckpointedRound(narrow.select($"url_key"), narrow,
        resultsOf(ck), extractedOf(ck).toDF(), metricsOf(ck).toDF())
    }
    val checkpointRound: () => CheckpointedRound = () => checkpointedRound

    lazy val extracted = extractedOf(obsSuperset)

    val rawLinks = processed
      .select(explode($"links").as("l"))
      .select($"l.url".as("url"), $"l.priority".as("priority"))

    // seen set after this round = everything scheduled (attempted), like the
    // reference's successful∪failed bookkeeping (handler.py:134-141)
    val newSeenKeys = scheduled.select($"url_key")

    // cached: the bloom split in notSeen scans its input twice (new +
    // maybe-seen branches) — without this the explode + canonicalize +
    // sha256 pipeline runs twice. On the broadcast-delta path the cache
    // sits ABOVE the delta anti-join, so the join — and its broadcast
    // build of newSeenKeys, an AQE query stage per round — runs once, not
    // once per bloom branch.
    val freshCandidates = (
      if (deltaBroadcastable)
        toFrontier(spark, rawLinks, round + 1)
          .join(broadcast(newSeenKeys), Seq("url_key"), "left_anti")
          .as[FrontierEntry]
      else toFrontier(spark, rawLinks, round + 1)
    ).cache()

    // fresh links must not include anything ever scheduled: cumulative seen
    // ∪ this round's schedule (J1, the central frontier op)
    val seenAfter = seenKeys match {
      case Some(s) => s.select($"url_key").union(newSeenKeys)
      case None => newSeenKeys
    }

    // incremental bloom maintenance: build a filter over THIS round's delta
    // only (O(scheduled) work) and OR it into the cumulative filter. The
    // delta is coalesced before the build: every build TASK allocates a
    // full capacity-sized bitset as its partial, so partials scale with
    // `BloomBuildParallelism`, not with the shuffle-partition count.
    def buildBloomAfter(): Option[org.apache.spark.util.sketch.BloomFilter] =
      if (!willBuildBloom) None
      else {
        // no eager count ran (knownSmall path): block until the round's
        // materialization wave has populated the schedule cache at full
        // parallelism before the coalesced build reads it (see the
        // eagerCount comment for the serial region this prevents). The
        // superset observation's "scheduled" metric arrives with whichever
        // action first materializes a superset-derived frame (the crawl
        // loop's wide checkpoint); callers invoke this thunk concurrently with
        // that wave, so the wait costs nothing on the critical path.
        // latchOnTimeout = false: a timeout here means "slow job", not
        // "unsupported runtime", and the fallback count() is itself a
        // full-parallelism cache-forcing action.
        if (eagerCount < 0L)
          graft.ObservedMetrics.longField(observation, "scheduled",
            latchOnTimeout = false) { scheduled.count() }
        val delta = SeenSet.bloomOf(newSeenKeys.coalesce(SeenSet.BloomBuildParallelism))
        Some(seenBloom match {
          case Some(b) => b.mergeInPlace(delta); b
          case None => delta
        })
      }

    // Fresh-link seen check, two regimes gated on the schedule size — the
    // caller's bound when known, the measured count otherwise (the
    // maxBroadcastDeltaDocs pattern):
    //  - small/medium rounds (delta fits a broadcast): exact broadcast
    //    anti-join against this round's delta, then the cumulative check
    //    under the PRIOR bloom — which exactly covers the prior seen set,
    //    so the merged bloom is only needed by the NEXT round and its
    //    build runs off this round's critical path (seenBloomAfter thunk).
    //  - large rounds (delta over broadcastDeltaMaxKeys): eager delta
    //    build + merge, one bloom-prefiltered anti-join against
    //    seen ∪ delta — so candidates never take an extra corpus-shaped
    //    shuffle at scale.
    val (fresh, seenBloomAfter) =
      if (deltaBroadcastable) {
        // freshCandidates is already post-delta-anti-join on this path
        // (cached above the join — see its definition)
        val f = seenKeys match {
          case Some(s) => notSeen(spark, freshCandidates, s, cfg, seenBloom)
          case None => freshCandidates
        }
        lazy val merged = buildBloomAfter()
        (f, () => merged)
      } else {
        val bloomAfter = buildBloomAfter()
        val f = notSeen(spark, freshCandidates, seenAfter, cfg, bloomAfter)
        (f, () => bloomAfter)
      }

    // retries re-enter the frontier bypassing the seen check (J6,
    // handler.py:397-442: one re-pass for failures). `processed` still
    // carries every schedule column, so no re-join with `scheduled` needed.
    val retries = processed
      .filter($"status" =!= "ok" && $"attempt" + 1 <= cfg.maxRetries)
      .select($"url_key", $"url", $"host", $"priority",
        ($"attempt" + 1).as("attempt"), $"discovered_round")
      .as[FrontierEntry]

    // the loop-termination count rides the action that materializes the
    // next frontier (the crawl loop's checkpoint) — no separate
    // isEmpty/count job at the top of the next iteration
    val frontierObservation = new org.apache.spark.sql.Observation()
    val newFrontier = fresh.union(retries).union(plan.deferred)
      .observe(frontierObservation, count(lit(1)).as("rows"))

    new RoundOutput(results, extracted, newFrontier,
      seenBloomAfter, frontierObservation,
      observation, checkpointRound,
      Seq(scheduled, processed.toDF(), freshCandidates.toDF(), plan.dedupedCache))
  }
}
