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
  * re-read from the committed parquet (or localCheckpointed when
  * storeless), truncating the logical plan so lineage doesn't grow across
  * rounds.
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
    * Each round materializes its four tables
    * ([[FrontierRound.RoundOutput.tables]]: scheduled, results, extracted,
    * metrics) and the next frontier once, straight from the round's
    * caches. With a store that materialization IS the commit, in two waves
    * of [[FrontierStore.write]] before one [[FrontierStore.publish]]:
    *  - the round tables, each coalesced to the files for this round's
    *    frontier bound (the schedule is a subset of the frontier);
    *  - then the next frontier, coalesced to the files for a bound the
    *    first wave observed: the superset's row count (retries) plus its
    *    outlink count (fresh links) plus this round's frontier bound
    *    (deferred rows). So no counting job runs, and the frontier's exact
    *    observed row count still lands in the manifest's "rows".
    * The seen parts are the rounds' `scheduled` tables (url_key is their
    * first column), listed by the manifest's "seen_parts" alias. The next
    * round reads the committed frontier and seen parts back with their
    * known schemas (no inference job), so lineage is cut at every round,
    * and nothing the round computes is a `localCheckpoint`: a task or
    * executor lost mid-round recomputes from durable inputs (the committed
    * frontier, the seen parts, the pages table). Without a store the same
    * five frames are localCheckpointed concurrently.
    *
    * The frontier-size bound that lets a round skip a capacity cut that
    * cannot bind and the provably-empty deferred subtree (see
    * [[FrontierRound.run]]'s `frontierSizeBound`) is known in every round:
    * `seeds.size` in round 0, the observed row count afterwards, and on
    * resume the committed frontier's count from the manifest's "rows"; a
    * manifest without it (or an observation miss) leaves it unknown (-1),
    * which plans both and tests for a drained frontier with a job.
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

    // url_key only, whatever the part's other columns (a round's
    // `scheduled` table, an older store's `seen_delta` or a compaction)
    def readSeen(parts: Seq[String]): DataFrame =
      spark.read.schema(SeenSchema).parquet(parts: _*)

    // resume from the latest committed snapshot when present. The seen set
    // is the union of per-round parts (O(R) total write volume instead of
    // rewriting the cumulative set every round); the manifest's
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
          // seen-only dirs the committed manifest no longer references
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

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    // per-round accumulator parts: only the crawl RESULT reads these.
    // Store-path parts are schema-given reads of committed tables;
    // storeless parts are the round's checkpoints.
    var schedParts = Vector.empty[DataFrame]
    var extractedParts = Vector.empty[DataFrame]
    var resultParts = Vector.empty[DataFrame]
    var metricParts = Vector.empty[DataFrame]

    // a bound on this round's frontier row count: exact from the seed list
    // or manifest, then observed off each round's frontier write or
    // checkpoint — so the drained? test costs no job. A -1 (manifest
    // without a count, or an observation timeout — the shared
    // ObservedMetrics latch makes that a one-time stall, not per-round)
    // falls back to the explicit isEmpty test: correct, just one extra
    // small job.
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
      // frontier); -1 (unknown) plans the cut and the deferred subtree
      val out = FrontierRound.run(spark, pages, frontier, seen, round,
        robotsCur, cfg, frontierSizeBound = frontierRows)
      val tables = out.tables
      store match {
        case Some(st) =>
          // seen-part compaction: when the prior part list has grown past
          // the threshold, fold those parts into one table written with
          // THIS round's tables (same atomic manifest publish — a crash
          // before publish leaves only an ignored orphan). The current
          // round's `scheduled` stays its own part
          val compactNow = cfg.compactSeenParts > 0 &&
            seenParts.length >= cfg.compactSeenParts
          val roundFiles = st.write(round,
            tables ++ (if (compactNow) Map("seen_compacted" -> readSeen(seenParts)) else Map.empty),
            bounds = tables.map { case (name, _) => name -> frontierRows })
          def observed(field: String) =
            ObservedMetrics.longField(out.observation, field) { -1L }
          val supersetRows = observed("scheduled")
          val links = observed("links")
          val nextBound =
            if (frontierRows < 0L || supersetRows < 0L || links < 0L) -1L
            else supersetRows + links + frontierRows
          val frontierFile = st.write(round, Map("frontier" -> out.newFrontier.toDF()),
            bounds = Map("frontier" -> nextBound))
          frontierRows =
            ObservedMetrics.longField(out.frontierObservation, "rows") { -1L }
          val newParts =
            (if (compactNow) Vector(st.tablePath(round, "seen_compacted"))
             else seenParts) :+ st.tablePath(round, "scheduled")
          // the superset's row count bounds every round table (each has at
          // most one row per superset row)
          val snap = st.publish(round, roundFiles ++ frontierFile,
            aliases = Map("seen_parts" -> newParts.mkString(";")),
            rows = tables.map { case (name, _) => name -> supersetRows } +
              ("frontier" -> frontierRows))
          // the folded parts are unreferenced by the just-published
          // manifest (resume reads the newest), so reclaim their disk now
          if (compactNow) st.gcFoldedSeenParts(seenParts)
          seenParts = newParts
          def committed(name: String) = st.read(snap, name, Some(tables(name).schema))
          frontier = st.read(snap, "frontier", Some(FrontierSchema)).as[FrontierEntry]
          seen = Some(readSeen(seenParts))
          schedParts :+= committed("scheduled")
          extractedParts :+= committed("extracted")
          resultParts :+= committed("results")
          metricParts :+= committed("metrics")
        case None =>
          // the same frames, checkpointed CONCURRENTLY: they share the
          // round's caches, and the block manager's per-partition locks
          // make whichever task arrives first compute a partition while the
          // others wait then read — same total work, one wave of latency
          val fCks = tables.map { case (name, df) => name -> Future(df.localCheckpoint(true)) }
          frontier = out.newFrontier.localCheckpoint(true)
          val ck = fCks.map { case (name, f) => name -> Await.result(f, Duration.Inf) }
          frontierRows =
            ObservedMetrics.longField(out.frontierObservation, "rows") { -1L }
          // the cumulative seen view grows by ONE union node per round over
          // the checkpointed schedules (no O(R^2) re-copying — and no
          // per-round rebuild of the R-way union either: re-deriving
          // `deltas.reduce(union)` each round re-analyzed R-1 fresh Dataset
          // constructions per round, a measured O(R) driver cost per round,
          // growing 18→67ms by round 6; the incremental union analyzes only
          // the new top node, its children already marked analyzed)
          val delta = ck("scheduled").select($"url_key")
          seen = Some(seen.fold(delta)(_.union(delta)))
          schedParts :+= ck("scheduled")
          resultParts :+= ck("results")
          extractedParts :+= ck("extracted")
          metricParts :+= ck("metrics")
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
