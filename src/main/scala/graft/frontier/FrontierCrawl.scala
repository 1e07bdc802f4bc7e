package graft.frontier

import graft.ObservedMetrics
import graft.model.FrontierEntry
import graft.store.FrontierStore
import graft.url.Urls
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Multi-round crawl driver — the Spark analog of `crawl_all`
  * (/root/reference/src/handler.py:444-497): iterate frontier rounds until
  * the frontier drains or the round limit hits, committing an atomic
  * snapshot (frontier / seen / extracted / results / metrics) per round so
  * a killed job resumes from the last published manifest with lineage
  * intact (north_rule; reference analog: find_last_saved_page,
  * handler.py:553-599).
  *
  * Iterative-job hygiene: each round's frontier and seen set are
  * re-read from the committed parquet (or localCheckpoint when storeless),
  * truncating the logical plan so lineage doesn't grow across rounds.
  */
object FrontierCrawl {

  final case class CrawlResult(
      rounds: Int,
      seenKeys: DataFrame,
      schedule: DataFrame, // all rounds' scheduled rows with round column
      extracted: DataFrame,
      results: DataFrame,
      metrics: DataFrame)

  // read schemas of the committed frontier and seen parts: a schema-less
  // parquet read plans a one-task inference job per read
  private val FrontierSchema = Encoders.product[FrontierEntry].schema
  private val SeenSchema = StructType(Seq(StructField("url_key", StringType)))

  def seedFrontier(spark: SparkSession, seeds: Seq[String]): Dataset[FrontierEntry] = {
    import spark.implicits._
    // all seeds carry priority 0 (listing page 1); deterministic tiebreak
    // by url_key mirrors the simulator contract
    spark.createDataset(seeds.map { u =>
      val canon = Urls.canonicalize(u)
      FrontierEntry(Urls.sha256Hex(canon), canon, Urls.host(canon), 0.0, 0, 0)
    })
  }

  /** Crawl from `seeds` (or from the store's latest snapshot) until the
    * frontier drains or `maxRounds` rounds have run.
    *
    * One materialization path, store or not: each round runs two
    * concurrent actions, `newFrontier.localCheckpoint` (the big job that
    * fills the round's fused pages-pass cache) and
    * [[FrontierRound.RoundOutput.checkpointRound]] (the schedule and the
    * html-free round superset). Every per-round table is a projection of
    * those checkpoints. With a store, the six snapshot tables are written
    * from them by [[FrontierStore.commit]], each coalesced to
    * `ceil(rows / FrontierStore.RowsPerFile)` files, where `rows` is a
    * count the round already observed: the next frontier's row count, and
    * the superset's row count for the schedule, the seen delta, results,
    * extracted and metrics (each has at most one row per superset row).
    * The next round then reads the committed frontier and seen parts back
    * with their known schemas (no inference job).
    *
    * The frontier-size bound that lets a round skip its eager schedule
    * count, the capacity cut and the deferred subtree (see
    * [[FrontierRound.run]]'s `frontierSizeBound`) is known in every round:
    * `seeds.size` in round 0, the observed row count afterwards, and on
    * resume the committed frontier's count from the manifest's "rows"; a
    * manifest without it (or an observation miss) leaves it unknown (-1),
    * which measures the count instead.
    *
    * Trade-off: the store path holds `localCheckpoint` blocks, which
    * Spark cannot recompute. An executor lost before the round's manifest
    * is published fails the round; the previous manifest is intact, and a
    * resume re-runs the round.
    */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      seeds: Seq[String],
      store: Option[FrontierStore] = None,
      robots: RobotsRules = RobotsRules.empty,
      cfg: PolitenessConfig = PolitenessConfig(),
      maxRounds: Int = 100): CrawlResult = {
    import spark.implicits._

    def readSeen(parts: Seq[String]): DataFrame =
      spark.read.schema(SeenSchema).parquet(parts: _*)

    // resume from the latest committed snapshot when present. The seen set
    // is stored as per-round delta parts (O(R) total write volume instead
    // of rewriting the cumulative set every round); the manifest's
    // "seen_parts" alias lists them.
    val resumed = store.flatMap(_.latest())
    val (startRound, frontier0, seen0, seenParts0, frontierRows0) =
      resumed match {
        case Some(snap) =>
          val st = store.get
          val parts = snap.tables.getOrElse("seen_parts", "")
            .split(";").filter(_.nonEmpty)
          // a crash between a compacting commit's publish and its gc leaves
          // folded dirs orphaned with no future reclaim — sweep them now.
          // UNCONDITIONAL (keyed on the manifest's part list, not the
          // current config): a store crawled WITH compaction and resumed
          // with it disabled would otherwise leak its crash-window dirs
          // forever, and the sweep is safe regardless — it only deletes
          // dirs the committed manifest no longer references
          st.gcUnreferencedSeenParts(parts.toSet)
          val seenDf = if (parts.isEmpty) None else Some(readSeen(parts.toSeq))
          (snap.round + 1,
            st.read(snap, "frontier", Some(FrontierSchema)).as[FrontierEntry],
            seenDf, parts.toVector, snap.rows.getOrElse("frontier", -1L))
        case None =>
          (0, seedFrontier(spark, seeds), None, Vector.empty[String], seeds.size.toLong)
      }

    var round = startRound
    var frontier = frontier0
    var seen = seen0
    var seenParts = seenParts0
    // cumulative seen-set bloom, maintained incrementally across rounds
    // (each round ORs in its delta — O(R) total build scan volume instead
    // of rebuilding over the cumulative set, O(R²)). On resume it is
    // rebuilt ONCE from the committed parts. The cuckoo seen path never
    // reads it.
    var seenBloom: Option[org.apache.spark.util.sketch.BloomFilter] =
      if (cfg.cuckooSeenBuckets == 0) seen0.map(graft.seen.SeenSet.bloomOf)
      else None

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    // per-round accumulator parts: only the crawl RESULT reads these.
    // Store-path parts are schema-given reads of committed tables;
    // storeless parts are LAZY projections over each round's checkpoints —
    // nothing per-round is awaited for them beyond the checkpoints.
    var schedParts = Vector.empty[DataFrame]
    var extractedParts = Vector.empty[DataFrame]
    var resultParts = Vector.empty[DataFrame]
    var metricParts = Vector.empty[DataFrame]

    // a bound on this round's frontier row count: exact from the seed list
    // or manifest, then observed off each round's frontier checkpoint — so
    // the drained? test costs no job. A -1 (manifest without a count, or an
    // observation timeout — the shared ObservedMetrics latch makes that a
    // one-time stall, not per-round) falls back to the explicit isEmpty
    // test: correct, just one extra small job.
    var frontierRows = frontierRows0
    // adaptive-backoff state: the rules actually applied each round (==
    // `robots` unless cfg.adaptiveBackoff merges per-round overrides).
    // On RESUME the state is rebuilt from the last committed round's
    // results — overrides derive from exactly one round, so the committed
    // results table is the whole state; without this a killed+restarted
    // crawl would schedule the failing host at full budget and diverge
    // from the uninterrupted run (the resume-equivalence invariant)
    var robotsCur = robots
    if (cfg.adaptiveBackoff)
      resumed.foreach { snap =>
        val ov = AdaptiveBudgets
          .fromResults(store.get.read(snap, "results"),
            base = cfg.defaultBudget)
          .collect()
          .map(r => r.getAs[String]("host") -> r.getAs[Int]("budget")).toMap
        robotsCur = AdaptiveBudgets.mergeInto(robots, ov)
      }
    while (round < maxRounds &&
        (if (frontierRows >= 0L) frontierRows > 0L else !frontier.isEmpty)) {
      // the frontier bound also bounds this round's schedule (schedule ⊆
      // frontier), letting run() skip the eager per-round count job
      // whenever the bound fits the broadcast-delta gate; -1 keeps the
      // measured-count path
      val out = FrontierRound.run(spark, pages, frontier, seen, round,
        robotsCur, cfg, seenBloom, frontierSizeBound = frontierRows)
      // next round's cumulative bloom: delta build + merge runs CONCURRENT
      // with the round's checkpoint wave (see RoundOutput.seenBloomAfter
      // for why the in-flight merge is probe-safe; the thunk waits for the
      // big job's observation before touching the schedule cache)
      val fBloom = Future(out.seenBloomAfter())
      // the frontier checkpoint is the round's big job: it populates the
      // fused pages-pass cache (classify+extract+outlinks). The ONLY other
      // materialization the round pays is checkpointRound — the schedule
      // and the superset, from which the seen delta, schedule, results,
      // extracted, and metrics all derive as lazy projections (they read
      // checkpoint blocks, so they survive the cache release below). The
      // two are submitted CONCURRENTLY: they share the cached fused pass,
      // and the block manager's per-partition locks make whichever task
      // arrives first compute a partition while the other waits then
      // reads — same total work, but the checkpoint wave's job latency
      // overlaps the big job instead of following it (order between the
      // two actions is semantics-free: both are materializations of
      // deterministic plans over the same caches).
      val fCk = Future(out.checkpointRound())
      val next = out.newFrontier.localCheckpoint(true)
      val ck = Await.result(fCk, Duration.Inf)
      // the next frontier's observed row count arrived with its checkpoint
      // (latching bounded wait via the shared helper)
      frontierRows =
        ObservedMetrics.longField(out.frontierObservation, "rows") { -1L }
      val scheduled = ck.scheduled.withColumn("round", lit(round))
      store match {
        case Some(st) =>
          // atomic multi-table snapshot of the checkpoints; reading back
          // truncates lineage. seen is committed as this round's DELTA;
          // the manifest carries the full part list (no distinct/rewrite
          // of the cumulative set — retries may duplicate keys, harmless
          // for anti-join/bloom).
          // seen-part compaction: when the prior delta list has grown past
          // the threshold, fold those on-disk parts into one table written
          // as part of THIS round's commit (concurrent with the round's own
          // tables, same atomic manifest publish — a crash before publish
          // leaves only an ignored orphan). The current round's delta stays
          // its own part, so the compacted read never re-derives the delta
          val compactNow = cfg.compactSeenParts > 0 &&
            seenParts.length >= cfg.compactSeenParts
          val roundTables = Map(
            "seen_delta" -> ck.seenDelta,
            "extracted" -> ck.extracted,
            "results" -> ck.results,
            "scheduled" -> scheduled,
            "metrics" -> ck.metrics)
          val tables = roundTables + ("frontier" -> next.toDF()) ++
            (if (compactNow) Map("seen_compacted" -> readSeen(seenParts)) else Map.empty)
          // the superset's row count bounds every round table (each has at
          // most one row per superset row)
          val roundRows =
            ObservedMetrics.longField(out.observation, "scheduled") { -1L }
          val rows = roundTables.map { case (name, _) => name -> roundRows } +
            ("frontier" -> frontierRows)
          val newParts =
            (if (compactNow) Vector(st.tablePath(round, "seen_compacted"))
             else seenParts) :+ st.tablePath(round, "seen_delta")
          val snap = st.commit(round, tables,
            aliases = Map("seen_parts" -> newParts.mkString(";")), rows = rows)
          // the folded parts are unreferenced by the just-published
          // manifest (resume reads the newest), so reclaim their disk now
          if (compactNow) st.gc(seenParts)
          seenParts = newParts
          def committed(name: String) = st.read(snap, name, Some(tables(name).schema))
          frontier = committed("frontier").as[FrontierEntry]
          seen = Some(readSeen(seenParts))
          schedParts :+= committed("scheduled")
          extractedParts :+= committed("extracted")
          resultParts :+= committed("results")
          metricParts :+= committed("metrics")
        case None =>
          frontier = next.as[FrontierEntry]
          // the cumulative seen view grows by ONE union node per round over
          // the checkpointed delta frames (no O(R^2) re-copying — and no
          // per-round rebuild of the R-way union either: re-deriving
          // `deltas.reduce(union)` each round re-analyzed R-1 fresh Dataset
          // constructions per round, a measured O(R) driver cost per round,
          // growing 18→67ms by round 6; the incremental union analyzes only
          // the new top node, its children already marked analyzed)
          seen = Some(seen match {
            case Some(s) => s.union(ck.seenDelta)
            case None => ck.seenDelta
          })
          schedParts :+= scheduled
          resultParts :+= ck.results
          extractedParts :+= ck.extracted
          metricParts :+= ck.metrics
      }
      // adaptive politeness backoff (opt-in): overrides from THIS round's
      // statuses (the results projection reads the already-materialized
      // checkpoint/commit — one cheap job), merged into the ORIGINAL
      // robots so a recovering host regains its budget. Override rows are
      // failing-host-bounded by construction (clean hosts emit nothing)
      // skipped when the loop is about to exit (drained frontier or final
      // round) — the overrides would be computed and thrown away
      if (cfg.adaptiveBackoff && frontierRows != 0L && round + 1 < maxRounds) {
        val ov = AdaptiveBudgets.fromResults(resultParts.last,
            base = cfg.defaultBudget)
          .collect()
          .map(r => r.getAs[String]("host") -> r.getAs[Int]("budget")).toMap
        robotsCur = AdaptiveBudgets.mergeInto(robots, ov)
      }
      // bloom merge must land before the caches feeding it are released
      // (the delta build reads the round's `scheduled` cache)
      seenBloom = Await.result(fBloom, Duration.Inf)
      out.caches.foreach(_.unpersist(false))
      round += 1
    }

    def unionAll(parts: Vector[DataFrame]): Option[DataFrame] =
      if (parts.isEmpty) None else Some(parts.reduce(_.union(_)))

    val emptyKeys = spark.createDataset(Seq.empty[String]).toDF("url_key")
    CrawlResult(
      round - startRound,
      seen.getOrElse(emptyKeys),
      unionAll(schedParts).getOrElse(spark.emptyDataFrame),
      unionAll(extractedParts).getOrElse(spark.emptyDataFrame),
      unionAll(resultParts).getOrElse(spark.emptyDataFrame),
      unionAll(metricParts).getOrElse(spark.emptyDataFrame))
  }
}
