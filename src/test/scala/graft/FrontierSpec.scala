package graft

import graft.extract.Extractor
import graft.fixtures.{FixtureConfig, FixtureGen}
import graft.frontier._
import graft.sim.CrawlSimulator
import graft.store.FrontierStore
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning,
  SinglePartition}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** Crawl-equivalence + politeness + resume tests (SURVEY.md §5 tests 2/4,
  * FIXTURES.md §4/§6): the Spark engine must reproduce the scalar
  * simulator's schedule (round, host, slot, url), final URL-seen set, and
  * extracted set exactly, under the same seeds + politeness budget.
  */
class FrontierSpec extends SparkTestBase {

  private val cfg = FixtureConfig(seed = 42L, hosts = 4, totalDetails = 60)
  private lazy val pagesDf = FixtureGen.pages(spark, cfg, partitions = 4).toDF().cache()
  private lazy val universe = FixtureGen.universe(cfg)

  private def runBoth(pol: PolitenessConfig, robots: RobotsRules = RobotsRules.empty) = {
    val sim = CrawlSimulator.run(universe, cfg.seeds, robots, pol, maxRounds = 50)
    val eng = FrontierCrawl.run(spark, pagesDf, cfg.seeds, None, robots, pol, maxRounds = 50)
    (sim, eng)
  }

  // the default-politeness crawl is asserted by several tests; run it once
  private lazy val defaultRun =
    runBoth(PolitenessConfig(defaultBudget = 7, saltBuckets = 4))

  /** Runs `body` and returns its value with the physical plan of every
    * SQL execution it ran; a sentinel action flushes the listener.
    */
  private def withPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val sentinel = s"flush-${java.util.UUID.randomUUID()}"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.analyzed.toString.contains(sentinel)) flushed.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).select(lit(sentinel)).collect()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus not flushed")
      import scala.jdk.CollectionConverters._
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of `plans`, through adaptive plans and query stages, and
    * into each cached plan ONCE however many executions read it — so a
    * node counted here is a node evaluated.
    */
  private def planNodes(plans: Seq[SparkPlan]): Seq[SparkPlan] = {
    val caches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: InMemoryTableScanExec =>
        if (caches.add(s.relation.cacheBuilder)) walk(s.relation.cachedPlan) else Nil
      case _ => p.children.flatMap(walk)
    })
    plans.flatMap(walk)
  }

  private def leftAntiJoins(nodes: Seq[SparkPlan]) =
    nodes.collect { case j: BaseJoinExec if j.joinType == LeftAnti => j }

  test("fixture universe sanity: details + listings, mega-host skew") {
    assert(universe.size == cfg.totalRows)
    assert(cfg.hostCounts(0) == 30) // mega-host = half
    assert(universe.keys.exists(_.contains("IdeaId=")))
    assert(universe.keys.exists(_.contains("search?page=")))
  }

  test("engine schedule == simulator schedule (round, host, slot, url, status)") {
    val (sim, eng) = defaultRun
    val resultsR = eng.results.select(col("url_key").as("rk"),
      col("round").as("r_round"), col("status"))
    val engRows = eng.schedule
      .join(resultsR,
        eng.schedule("url_key") === resultsR("rk") &&
          eng.schedule("round") === resultsR("r_round"))
      .select(eng.schedule("round"), eng.schedule("host"), col("slot"),
        eng.schedule("url"), col("status"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3), r.getString(4)))
      .toSet
    val simRows = sim.schedule.map(f => (f.round, f.host, f.slot, f.url, f.status)).toSet
    assert(engRows == simRows)
  }

  test("global round capacity: engine == simulator; capped work defers, never drops") {
    val pol = PolitenessConfig(defaultBudget = 7, saltBuckets = 4,
      maxUrlsPerRound = 5L)
    val (sim, eng) = runBoth(pol)
    val engRows = eng.schedule
      .select(col("round"), col("host"), col("slot"), col("url"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSet
    val simRows = sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet
    assert(engRows == simRows)
    // the cut is a deferral: the capped crawl still reaches the full
    // universe — its final seen set equals the UNCAPPED crawl's
    val (simFull, _) = defaultRun
    assert(sim.seen == simFull.seen)
    val engSeen = eng.seenKeys.collect().map(_.getString(0)).toSet
    assert(engSeen == sim.seen)
    // and it genuinely bound: more rounds than the uncapped crawl
    assert(sim.schedule.map(_.round).max > simFull.schedule.map(_.round).max)
  }

  test("adaptive backoff: engine == simulator; failing hosts shed budget") {
    // the DEFAULT fixture is all-ok; backoff needs failures to bind — use
    // an error-dense universe (~30% error pages)
    val cfgB = FixtureConfig(seed = 11L, hosts = 3, totalDetails = 60,
      errorPagePerMille = 300)
    val pagesB = FixtureGen.pages(spark, cfgB, partitions = 4).toDF()
    val uniB = FixtureGen.universe(cfgB)
    val pol = PolitenessConfig(defaultBudget = 8, saltBuckets = 4,
      adaptiveBackoff = true)
    val sim = CrawlSimulator.run(uniB, cfgB.seeds, RobotsRules.empty, pol, 50)
    val eng = FrontierCrawl.run(spark, pagesB, cfgB.seeds, None,
      RobotsRules.empty, pol, 50)
    val engRows = eng.schedule
      .select(col("round"), col("host"), col("slot"), col("url"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSet
    val simRows = sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet
    assert(engRows == simRows)
    val engSeen = eng.seenKeys.collect().map(_.getString(0)).toSet
    assert(engSeen == sim.seen)
    // and it genuinely BOUND: the same crawl with backoff off schedules
    // differently (error-rate quartiles shrink budgets on this fixture)
    val simOff = CrawlSimulator.run(uniB, cfgB.seeds, RobotsRules.empty,
      pol.copy(adaptiveBackoff = false), 50)
    assert(sim.schedule != simOff.schedule,
      "backoff changed nothing on an error-dense fixture")
  }

  test("adaptive backoff composes with real robots: equivalence + authority") {
    val cfgB = FixtureConfig(seed = 11L, hosts = 3, totalDetails = 60,
      errorPagePerMille = 300)
    val pagesB = FixtureGen.pages(spark, cfgB, partitions = 4).toDF()
    val uniB = FixtureGen.universe(cfgB)
    // h0 carries a robots-EXPLICIT budget (must stay authoritative over
    // any adaptive override) and h1 a disallow rule (re-filters the
    // frontier every round alongside the overrides)
    val robots = RobotsRules(Map(
      "h0.example.ir" -> HostRules(None, Some(5), Seq.empty),
      "h1.example.ir" -> HostRules(None, None, Seq("/search"))))
    val pol = PolitenessConfig(defaultBudget = 8, saltBuckets = 4,
      adaptiveBackoff = true)
    val sim = CrawlSimulator.run(uniB, cfgB.seeds, robots, pol, 50)
    val eng = FrontierCrawl.run(spark, pagesB, cfgB.seeds, None, robots, pol, 50)
    val engRows = eng.schedule
      .select(col("round"), col("host"), col("slot"), col("url"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(engRows == sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet)
    // explicit budget never exceeded AND never adaptively shrunk below
    // what its own errors would imply is moot — authority means 5, always
    val h0 = eng.schedule.filter(col("host") === "h0.example.ir")
      .groupBy(col("round")).count().collect()
    h0.foreach(r => assert(r.getLong(1) <= 5))
  }

  test("adaptive backoff survives a kill/resume: == uninterrupted run") {
    val cfgB = FixtureConfig(seed = 13L, hosts = 3, totalDetails = 50,
      errorPagePerMille = 300)
    val pagesB = FixtureGen.pages(spark, cfgB, partitions = 4).toDF()
    val pol = PolitenessConfig(defaultBudget = 8, saltBuckets = 4,
      adaptiveBackoff = true)
    val full = FrontierCrawl.run(spark, pagesB, cfgB.seeds, None,
      RobotsRules.empty, pol, 50)
    val dir = java.nio.file.Files.createTempDirectory("graft-backoff-store").toString
    val store = new FrontierStore(spark, dir)
    // "kill" after 2 rounds, then resume: robotsCur must be REBUILT from
    // the committed round's results or the failing host schedules at
    // full budget and the schedule diverges
    FrontierCrawl.run(spark, pagesB, cfgB.seeds, Some(store),
      RobotsRules.empty, pol, 2)
    val resumed = FrontierCrawl.run(spark, pagesB, cfgB.seeds,
      Some(new FrontierStore(spark, dir)), RobotsRules.empty, pol, 50)
    // a resumed CrawlResult's schedule covers post-resume rounds only (the
    // committed store holds the earlier ones) — compare rounds >= 2, which
    // is exactly where a lost backoff state would diverge
    val rows = (df: org.apache.spark.sql.DataFrame) => df
      .filter(col("round") >= 2)
      .select(col("round"), col("host"), col("slot"), col("url"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(rows(resumed.schedule) == rows(full.schedule))
    assert(resumed.seenKeys.collect().map(_.getString(0)).toSet ==
      full.seenKeys.collect().map(_.getString(0)).toSet)
  }

  test("capByPriority: exact distributed top-N, dedup winner rule, scrambled input") {
    import spark.implicits._
    val entries = (0 until 500).map { i =>
      graft.model.FrontierEntry(f"k$i%03d", s"http://h${i % 7}.ir/$i",
        s"h${i % 7}.ir", (i % 50).toDouble, 0, 0)
    } :+ // duplicate key whose higher-attempt copy must win the dedup
      graft.model.FrontierEntry("k000", "http://h0.ir/0", "h0.ir", 0.0, 2, 0)
    val ds = spark.createDataset(entries).repartition(13)
    val (kept, cut, _) = FrontierRound.capByPriority(spark, ds, 37L)
    val keptRows = kept.collect()
    val cutRows = cut.collect()
    assert(keptRows.length == 37)
    val dedup = entries.groupBy(_.url_key).map { case (_, es) =>
      es.minBy(e => (e.priority, -e.attempt, e.discovered_round))
    }.toSeq
    val expect = dedup.sortBy(e => (e.priority, e.url_key)).take(37)
      .map(_.url_key).toSet
    assert(keptRows.map(_.url_key).toSet == expect)
    // kept ∪ cut == the deduped input, exactly once each
    val all = keptRows ++ cutRows
    assert(all.map(_.url_key).toSet == dedup.map(_.url_key).toSet)
    assert(all.length == dedup.size)
    assert(all.find(_.url_key == "k000").get.attempt == 2)
    // n beyond the frontier: nothing cut
    val (k2, c2, _) = FrontierRound.capByPriority(spark, ds, 10000L)
    assert(c2.isEmpty && k2.count() == dedup.size)
  }

  test("final seen set equals simulator's") {
    val (sim, eng) = defaultRun
    val engSeen = eng.seenKeys.collect().map(_.getString(0)).toSet
    assert(engSeen == sim.seen)
  }

  test("bucket-local cuckoo seen strategy: full crawl matches the simulator too") {
    // the cuckooSeenBuckets flag puts the distributed bucket-cogroup probe
    // in front of the exact anti-join; crawl ordering and the final seen
    // set must be indistinguishable (prefilters never make DROP decisions)
    val (sim, eng) = runBoth(PolitenessConfig(defaultBudget = 7, saltBuckets = 4,
      cuckooSeenBuckets = 8, cuckooExpectedPerBucket = 256))
    val engSeen = eng.seenKeys.collect().map(_.getString(0)).toSet
    assert(engSeen == sim.seen)
    val engSched = eng.schedule.select(col("round"), col("host"), col("slot"), col("url"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    val simSched = sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet
    assert(engSched == simSched)
  }

  test("seen check at the default and a disabled broadcast threshold: one anti-join") {
    // a round's fresh links take ONE exact anti-join against the prior
    // seen set ∪ its own keys, whatever the session's broadcast threshold:
    // Catalyst broadcasts that side at the default and shuffles it at -1.
    // The two regimes must produce identical crawls — disable the
    // threshold and compare against both the simulator and the default run
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val pol = PolitenessConfig(defaultBudget = 7, saltBuckets = 4)
    // the fresh-link joins planned for one round over the seeds, with a
    // prior seen set
    def freshJoins() = {
      import spark.implicits._
      val seen = spark.createDataset(universe.keys.toSeq.sorted.take(5)
        .map(graft.url.Urls.sha256Hex)).toDF("url_key")
      val out = FrontierRound.run(spark, pagesDf,
        FrontierCrawl.seedFrontier(spark, cfg.seeds), Some(seen), 0, RobotsRules.empty, pol)
      try leftAntiJoins(planNodes(Seq(out.newFrontier.queryExecution.executedPlan)))
      finally out.caches.foreach(_.unpersist(true))
    }
    val prior = spark.conf.getOption(thresholdKey)
    spark.conf.set(thresholdKey, "-1")
    val (sim, engSeen, engSched, joinsOff) =
      try {
        val (simRun, eng) = runBoth(pol)
        (simRun, eng.seenKeys.collect().map(_.getString(0)).toSet,
          eng.schedule.select(col("round"), col("host"), col("slot"), col("url"))
            .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet,
          freshJoins())
      } finally prior match {
        case Some(v) => spark.conf.set(thresholdKey, v)
        case None => spark.conf.unset(thresholdKey)
      }
    val joinsOn = freshJoins()
    assert(joinsOff.size == 1 && joinsOn.size == 1, s"off: $joinsOff; on: $joinsOn")
    assert(!joinsOff.head.isInstanceOf[BroadcastHashJoinExec], joinsOff)
    assert(joinsOn.head.isInstanceOf[BroadcastHashJoinExec], joinsOn)
    assert(engSeen == sim.seen)
    assert(engSched == sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet)
    val (_, engDefault) = defaultRun
    val defSched = engDefault.schedule.select(col("round"), col("host"), col("slot"), col("url"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(engSched == defSched)
  }

  test("extracted url set equals simulator's; extraction is byte-identical") {
    val (sim, eng) = defaultRun
    val engExtract = eng.extracted.collect()
    assert(engExtract.map(_.getAs[String]("url")).toSet == sim.extractedUrls)
    // per-url byte equality against direct extraction from the universe body
    engExtract.foreach { row =>
      val u = row.getAs[String]("url")
      val direct = Extractor.extract(u,
        graft.url.Urls.ideaId(u).getOrElse(graft.url.Urls.sha256Hex(u)), universe(u))
      assert(row.getAs[String]("question") == direct.question, u)
      assert(row.getAs[String]("answer") == direct.answer, u)
      assert(row.getAs[String]("content") == direct.content, u)
      assert(row.getAs[String]("opinion_date_gregorian") == direct.opinion_date_gregorian, u)
    }
  }

  test("politeness budget: no host exceeds budget in any round; slots dense") {
    val pol = PolitenessConfig(defaultBudget = 5, defaultDelayMs = 1000L, saltBuckets = 4)
    val (_, eng) = runBoth(pol)
    val perHostRound = eng.schedule.groupBy(col("round"), col("host"))
      .agg(count(lit(1)).as("n"), max(col("slot")).as("maxSlot"),
        max(col("scheduled_delay_ms")).as("maxDelay"))
      .collect()
    perHostRound.foreach { r =>
      assert(r.getAs[Long]("n") <= 5, r.toString)
      assert(r.getAs[Int]("maxSlot") == r.getAs[Long]("n"), r.toString)
      assert(r.getAs[Long]("maxDelay") == (r.getAs[Long]("n") - 1) * 1000L, r.toString)
    }
  }

  test("equivalence holds under skewed budgets and a disallow rule") {
    val robots = RobotsRules(Map(
      "h0.example.ir" -> HostRules(Some(500L), Some(3), Seq()),
      "h1.example.ir" -> HostRules(None, None, Seq("/opinions"))))
    val pol = PolitenessConfig(defaultBudget = 6, saltBuckets = 4)
    val (sim, eng) = runBoth(pol, robots)
    val engSched = eng.schedule.select(col("round"), col("host"), col("slot"), col("url"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    val simSched = sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet
    assert(engSched == simSched)
    // h1 details never fetched (robots disallow /opinions)
    assert(!engSched.exists { case (_, h, _, u) => h == "h1.example.ir" && u.contains("IdeaId") })
    // h0 never exceeds its robots budget of 3
    val h0 = eng.schedule.filter(col("host") === "h0.example.ir")
      .groupBy(col("round")).count().collect()
    h0.foreach(r => assert(r.getLong(1) <= 3))
  }

  test("missing pages retried exactly once (maxRetries=1) then dropped") {
    val seeds = cfg.seeds :+ s"https://h9.example.ir/search?page=1" // not in universe
    val pol = PolitenessConfig(defaultBudget = 7, saltBuckets = 4)
    val sim = CrawlSimulator.run(universe, seeds, RobotsRules.empty, pol, 50)
    val eng = FrontierCrawl.run(spark, pagesDf, seeds, None, RobotsRules.empty, pol, 50)
    val missing = eng.results.filter(col("status") === "missing")
      .groupBy(col("url")).count().collect()
    assert(missing.nonEmpty)
    missing.foreach(r => assert(r.getLong(1) == 2L, r.toString)) // initial + 1 retry
    val engSched = eng.schedule.select(col("round"), col("host"), col("slot"), col("url"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(engSched == sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet)
  }

  test("error pages are filtered from extraction but counted in results") {
    // denser error-page fixture (60-detail default yields ~1 expected)
    val cfgE = FixtureConfig(seed = 7L, hosts = 2, totalDetails = 40,
      errorPagePerMille = 200)
    val pagesE = FixtureGen.pages(spark, cfgE, partitions = 2).toDF()
    val eng = FrontierCrawl.run(spark, pagesE, cfgE.seeds, None,
      RobotsRules.empty, PolitenessConfig(defaultBudget = 7, saltBuckets = 4), 50)
    val nError = eng.results.filter(col("status") === "error_page").count()
    assert(nError > 0) // fixture has ~2% error pages
    val extractedUrls = eng.extracted.select("url").collect().map(_.getString(0)).toSet
    val errorUrls = eng.results.filter(col("status") === "error_page")
      .select("url").collect().map(_.getString(0)).toSet
    assert(extractedUrls.intersect(errorUrls).isEmpty)
  }

  test("resume from snapshot: killed run + restart == uninterrupted run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val pol = PolitenessConfig(defaultBudget = 7, saltBuckets = 4)

    // uninterrupted
    val full = FrontierCrawl.run(spark, pagesDf, cfg.seeds, None, RobotsRules.empty, pol, 50)
    val fullSeen = full.seenKeys.collect().map(_.getString(0)).toSet

    // phase 1: stop after 2 rounds (simulated kill)
    val store = new FrontierStore(spark, dir)
    FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(store), RobotsRules.empty, pol, 2)
    // orphan in-flight temp data must be ignored on resume
    val orphan = new java.io.File(s"$dir/_tmp/orphan")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("junk.json"), "{broken")

    // phase 2: resume to completion
    val resumed = FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(store), RobotsRules.empty, pol, 50)
    val resumedSeen = resumed.seenKeys.collect().map(_.getString(0)).toSet
    assert(resumedSeen == fullSeen)

    // per-(round, partition) lineage metrics exist for every committed round
    val st2 = new FrontierStore(spark, dir)
    val last = st2.latest().get
    assert(last.round > 1)
    val metrics = st2.read(last, "metrics")
    assert(metrics.count() > 0)
  }

  // (round, host, slot, url) of a schedule frame
  private def schedRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("round"), col("host"), col("slot"), col("url")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
  private def simRows(sim: CrawlSimulator.SimResult) =
    sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet
  // every committed round's schedule, read from the round directories
  private def storedSchedule(st: FrontierStore) =
    schedRows(spark.read.parquet(
      (0 to st.latest().get.round).map(st.tablePath(_, "scheduled")): _*))
  private def keys(df: org.apache.spark.sql.DataFrame) =
    df.select("url_key").collect().map(_.getString(0)).toSet

  test("store path == storeless path per round; one Parquet part per round table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store-eq").toString
    val (_, free) = defaultRun
    val stored = FrontierCrawl.run(spark, pagesDf, cfg.seeds,
      Some(new FrontierStore(spark, dir)), RobotsRules.empty,
      PolitenessConfig(defaultBudget = 7, saltBuckets = 4), 50)
    assert(stored.rounds == free.rounds)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    // the schedule keeps every column, `round` included
    assert(stored.schedule.columns.toSeq == free.schedule.columns.toSeq)
    assert(stored.schedule.columns.contains("round"))
    assert(rows(stored.schedule) == rows(free.schedule))
    assert(rows(stored.results) == rows(free.results))
    assert(rows(stored.extracted) == rows(free.extracted))
    assert(rows(stored.metrics) == rows(free.metrics))
    assert(keys(stored.seenKeys) == keys(free.seenKeys))
    // fixture-sized round tables are far under FrontierStore.RowsPerFile
    val st = new FrontierStore(spark, dir)
    for (r <- 0 until stored.rounds;
         t <- Seq("scheduled", "results", "extracted", "metrics", "frontier")) {
      val parts = new java.io.File(st.tablePath(r, t).stripPrefix("file:")).listFiles()
        .map(_.getName).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      assert(parts.length == 1, s"round $r $t: ${parts.mkString(", ")}")
    }
  }

  test("a moved store resumes: manifests hold paths relative to the store root") {
    val pol = PolitenessConfig(defaultBudget = 7, saltBuckets = 4)
    val (sim, _) = defaultRun
    val parent = java.nio.file.Files.createTempDirectory("graft-move-store")
    val before = parent.resolve("before")
    val after = parent.resolve("after")
    FrontierCrawl.run(spark, pagesDf, cfg.seeds,
      Some(new FrontierStore(spark, before.toString)), RobotsRules.empty, pol, 2)
    java.nio.file.Files.move(before, after)
    val manifests = after.resolve("manifests").toFile.listFiles()
      .filter(_.getName.endsWith(".json"))
    assert(manifests.length == 2)
    manifests.foreach { m =>
      val text = java.nio.file.Files.readString(m.toPath)
      assert(!text.contains(parent.toString), text)
    }
    val st = new FrontierStore(spark, after.toString)
    // Snapshot.tables still hands out absolute paths, under the new root
    val parts = st.latest().get.tables("seen_parts").split(";")
    assert(parts.length == 2)
    parts.foreach(p => assert(p.stripPrefix("file:").startsWith(after.toString), p))
    val resumed = FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(st),
      RobotsRules.empty, pol, 50)
    assert(keys(resumed.seenKeys) == sim.seen)
    assert(storedSchedule(st) == simRows(sim))
  }

  test("frontier bound at the cut boundary: long seeds, resumed count, count-less manifest") {
    // 4 seeds over a capacity of 3: round 0 must take the capacity cut
    // even though its frontier bound (the seed count) is known
    assert(cfg.seeds.size == 4)
    val rounds = 6
    val pol = PolitenessConfig(defaultBudget = 7, saltBuckets = 4,
      maxUrlsPerRound = 3L)
    val sim = CrawlSimulator.run(universe, cfg.seeds, RobotsRules.empty, pol, rounds)
    assert(sim.schedule.count(_.round == 0) == 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-bound-store")
    val st = new FrontierStore(spark, dir.toString)
    FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(st), RobotsRules.empty, pol, 2)
    // the manifest's frontier count is the committed frontier's row count
    val snap = st.latest().get
    assert(snap.rows("frontier") == st.read(snap, "frontier").count())
    assert(snap.rows("frontier") > pol.maxUrlsPerRound)
    // a copy whose latest manifest lost its "rows" resumes through the
    // unknown-bound (measured count) path
    val copy = java.nio.file.Files.createTempDirectory("graft-bound-copy").resolve("store")
    org.apache.commons.io.FileUtils.copyDirectory(dir.toFile, copy.toFile)
    val manifest = copy.resolve("manifests/manifest-r00001.json")
    val text = java.nio.file.Files.readString(manifest)
    val stripped = text.replaceAll(""", "rows": \{[^}]*\}""", "")
    assert(stripped != text && !stripped.contains("\"rows\""))
    java.nio.file.Files.writeString(manifest, stripped)
    // the local filesystem would reject the edit against its old checksum
    java.nio.file.Files.delete(copy.resolve("manifests/.manifest-r00001.json.crc"))
    val stCopy = new FrontierStore(spark, copy.toString)
    assert(stCopy.latest().get.rows.isEmpty)
    for (s <- Seq(st, stCopy)) {
      val resumed = FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(s),
        RobotsRules.empty, pol, rounds)
      assert(keys(resumed.seenKeys) == sim.seen)
      assert(storedSchedule(s) == simRows(sim))
    }
    // a capacity equal to the seed count: the known bound proves the cut
    // cannot bind and skips it
    val atCap = pol.copy(maxUrlsPerRound = 4L)
    val simAt = CrawlSimulator.run(universe, cfg.seeds, RobotsRules.empty, atCap, rounds)
    val engAt = FrontierCrawl.run(spark, pagesDf, cfg.seeds, None,
      RobotsRules.empty, atCap, rounds)
    assert(schedRows(engAt.schedule) == simRows(simAt))
    assert(keys(engAt.seenKeys) == simAt.seen)
  }

  test("seen-part compaction: bounded manifest part list, crawl + resume unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-store").toString
    val polPlain = PolitenessConfig(defaultBudget = 7, saltBuckets = 4)
    val pol = polPlain.copy(compactSeenParts = 2)

    // ground truth: uninterrupted storeless crawl, no compaction
    val full = FrontierCrawl.run(spark, pagesDf, cfg.seeds, None, RobotsRules.empty, polPlain, 50)
    val fullSeen = full.seenKeys.collect().map(_.getString(0)).toSet

    // killed after 2 rounds + resumed, compacting whenever the prior delta
    // list reaches 2 — every round past r1 folds the list, so the crawl
    // exercises compact-on-commit and resume-from-compacted repeatedly
    val store = new FrontierStore(spark, dir)
    FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(store), RobotsRules.empty, pol, 2)
    val resumed = FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(store), RobotsRules.empty, pol, 50)
    val resumedSeen = resumed.seenKeys.collect().map(_.getString(0)).toSet
    assert(resumedSeen == fullSeen)

    // the manifest's part list is bounded by threshold + 1, not O(rounds),
    // and the on-disk parts alone reproduce the full seen set
    val snap = store.latest().get
    assert(snap.round > 2)
    val parts = snap.tables("seen_parts").split(";").filter(_.nonEmpty)
    assert(parts.length <= pol.compactSeenParts + 1, parts.mkString(";"))
    val diskSeen = spark.read.parquet(parts.toSeq: _*)
      .select("url_key").distinct().collect().map(_.getString(0)).toSet
    assert(diskSeen == fullSeen)

    // folded compactions are GC'd from disk (every round from 2 on folds
    // the previous one): compaction bounds the part LIST and reclaims the
    // folded seen-only dirs
    for (r <- 2 until snap.round)
      assert(!new java.io.File(f"$dir/rounds/r$r%05d/seen_compacted").exists,
        s"folded seen_compacted of round $r should be deleted by the gc")
    // ...but never a round table: every folded `scheduled` dir survives,
    // and the crawl result's schedule still reads the folded ones
    for (r <- 0 to snap.round)
      assert(new java.io.File(store.tablePath(r, "scheduled").stripPrefix("file:")).exists,
        s"round $r scheduled")
    assert(schedRows(resumed.schedule) == schedRows(full.schedule.filter(col("round") >= 2)))

    // crash-window sweep: recreate a folded dir (simulating death between
    // a compacting commit's manifest publish and its gc), then resume —
    // the resume-time sweep reclaims it, while referenced parts survive
    val orphan = new java.io.File(s"$dir/rounds/r00000/seen_delta")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("junk.parquet"), "x")
    FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(store), RobotsRules.empty, pol, 50)
    assert(!orphan.exists, "resume sweep should reclaim the orphaned folded dir")
    parts.foreach { p =>
      assert(new java.io.File(p.stripPrefix("file:")).exists,
        s"referenced part $p must survive the sweep")
    }
  }

  // a store-backed crawl under a binding capacity cut, stopped after 2
  // rounds and resumed, with the description of every SQL execution it
  // ran (captured by a listener; a sentinel action flushes the bus)
  private lazy val cutStoreRun = {
    val pol = PolitenessConfig(defaultBudget = 7, saltBuckets = 4, maxUrlsPerRound = 5L)
    val dir = java.nio.file.Files.createTempDirectory("graft-nockpt-store").toString
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            Option(s.description).foreach(descs.add)
          case _ =>
        }
    }
    val sentinel = s"flush-${java.util.UUID.randomUUID()}"
    spark.sparkContext.addSparkListener(listener)
    try {
      FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(new FrontierStore(spark, dir)),
        RobotsRules.empty, pol, 2)
      FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(new FrontierStore(spark, dir)),
        RobotsRules.empty, pol, 50)
      spark.sparkContext.setJobDescription(sentinel)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000L * 1000L * 1000L
      while (!descs.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(50)
      assert(descs.contains(sentinel), "listener bus not flushed")
    } finally spark.sparkContext.removeSparkListener(listener)
    (pol, new FrontierStore(spark, dir), descs.toArray(Array.empty[String]).toSeq)
  }

  test("store-backed crawl with a capacity cut and a resume runs no localCheckpoint or bloomFilter") {
    val (pol, st, descs) = cutStoreRun
    val sim = CrawlSimulator.run(universe, cfg.seeds, RobotsRules.empty, pol, 50)
    assert(storedSchedule(st) == simRows(sim))
    // the cut bound: some round scheduled exactly the capacity
    assert(sim.schedule.groupBy(_.round).values.exists(_.size == pol.maxUrlsPerRound))
    // the listener saw the crawl's commit writes...
    assert(descs.exists(_.contains("FrontierStore.scala")), descs.mkString("\n"))
    // ...and no execution that materializes unrecomputable blocks or
    // builds a Bloom filter
    val banned = descs.filter(d => d.startsWith("localCheckpoint") || d.startsWith("bloomFilter"))
    assert(banned.isEmpty, banned.mkString("\n"))
  }

  test("new rounds write no seen_delta; seen_parts lists the rounds' scheduled tables") {
    val (_, st, _) = cutStoreRun
    val snap = st.latest().get
    val rounds = 0 to snap.round
    rounds.foreach { r =>
      assert(!new java.io.File(st.tablePath(r, "seen_delta").stripPrefix("file:")).exists, s"round $r")
    }
    assert(snap.tables("seen_parts").split(";").toSeq == rounds.map(st.tablePath(_, "scheduled")))
    // url_key is the scheduled table's first column: readers of seen_parts
    // take column 0 as the key
    assert(st.read(snap, "scheduled").columns.head == "url_key")
  }

  test("a store whose manifest lists older seen_delta parts resumes to the simulator's seen set") {
    val pol = PolitenessConfig(defaultBudget = 7, saltBuckets = 4)
    val (sim, _) = defaultRun
    val dir = java.nio.file.Files.createTempDirectory("graft-delta-store")
    val st = new FrontierStore(spark, dir.toString)
    FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(st), RobotsRules.empty, pol, 2)
    // rewrite the 2-round store into the older layout: a url_key-only
    // seen_delta table per round, and a manifest whose seen_parts lists them
    for (r <- 0 until 2)
      spark.read.parquet(st.tablePath(r, "scheduled")).select("url_key")
        .write.parquet(st.tablePath(r, "seen_delta"))
    val manifest = dir.resolve("manifests/manifest-r00001.json")
    val text = java.nio.file.Files.readString(manifest)
    val older = text.replace("rounds/r00000/scheduled;rounds/r00001/scheduled",
      "rounds/r00000/seen_delta;rounds/r00001/seen_delta")
    assert(older != text, text)
    java.nio.file.Files.writeString(manifest, older)
    // the local filesystem would reject the edit against its old checksum
    java.nio.file.Files.delete(dir.resolve("manifests/.manifest-r00001.json.crc"))
    val resumed = FrontierCrawl.run(spark, pagesDf, cfg.seeds,
      Some(new FrontierStore(spark, dir.toString)), RobotsRules.empty, pol, 50)
    assert(keys(resumed.seenKeys) == sim.seen)
    assert(storedSchedule(st) == simRows(sim))
    // the older parts stay listed (and on disk) ahead of the new rounds'
    val parts = st.latest().get.tables("seen_parts").split(";").toSeq
    assert(parts.take(2) == (0 until 2).map(st.tablePath(_, "seen_delta")))
    assert(parts.drop(2) == (2 to st.latest().get.round).map(st.tablePath(_, "scheduled")))
  }

  test("round metrics: the per-partition fold == grouping on spark_partition_id()") {
    import spark.implicits._
    val statuses = Seq("ok", "error_page", "missing", "ok", "ok")
    val rows = (0 until 40).map(i => (s"k$i", statuses(i % statuses.size), i % 7))
    // four partitions, the third one empty
    val superset = spark.sparkContext.parallelize(rows, 4)
      .mapPartitionsWithIndex((i, it) => if (i == 2) Iterator.empty else it)
      .toDF("url_key", "status", "n_links")
    assert(superset.rdd.getNumPartitions == 4)
    val byGroup = superset
      .withColumn("partition_id", spark_partition_id())
      .groupBy($"partition_id")
      .agg(
        count(lit(1)).as("scheduled"),
        sum(when($"status" === "ok", 1L).otherwise(0L)).as("fetched_ok"),
        sum(when($"status" === "error_page", 1L).otherwise(0L)).as("error_pages"),
        sum(when($"status" === "missing", 1L).otherwise(0L)).as("missing"),
        sum($"n_links").cast("long").as("outlinks"))
      .select(lit(3).as("round"), $"partition_id", $"scheduled",
        $"fetched_ok", $"error_pages", $"missing",
        $"fetched_ok".as("extracted"), $"outlinks")
      .as[graft.model.RoundMetrics].collect().toSet
    val byFold = FrontierRound.metricsOf(superset, 3).collect()
    assert(byFold.length == byFold.toSet.size)
    assert(byFold.toSet == byGroup)
    assert(byFold.map(_.partition_id).toSet == Set(0, 1, 3))
    assert(byFold.map(_.scheduled).sum == superset.count())
  }

  test("empty-deferred gate: bounded no-rules schedule == ungated; binding budget keeps deferred") {
    import spark.implicits._
    import graft.url.Urls
    val entries = (1 to 20).map { i =>
      val u = s"https://h${i % 3}.example/p$i"
      graft.model.FrontierEntry(Urls.sha256Hex(u), u, s"h${i % 3}.example",
        (i % 5).toDouble, 0, 0)
    }
    val frontier = spark.createDataset(entries)
    def plan(pol: PolitenessConfig, bound: Long) =
      FrontierRound.schedule(spark, frontier, RobotsRules.empty, pol,
        frontierSizeBound = bound)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url_key", "slot", "scheduled_delay_ms").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet

    // bound (20) ≤ budget (64): the gate PROVES deferred empty — scheduled
    // must be identical to the ungated (-1 bound) plan and the deferred
    // subtree must be a literal empty relation, not a computed filter
    val loose = PolitenessConfig(defaultBudget = 64, defaultDelayMs = 10L,
      saltBuckets = 4)
    val gated = plan(loose, bound = 20L)
    val ungated = plan(loose, bound = -1L)
    assert(rows(gated.scheduled) == rows(ungated.scheduled))
    assert(gated.deferred.isEmpty && ungated.deferred.isEmpty)
    assert(gated.deferred.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

    // bound (20) > budget (4): budgets CAN bind — the gate must stay off
    // and the deferred rows must match the ungated plan exactly
    val tight = PolitenessConfig(defaultBudget = 4, defaultDelayMs = 10L,
      saltBuckets = 4)
    val gatedTight = plan(tight, bound = 20L)
    val ungatedTight = plan(tight, bound = -1L)
    assert(rows(gatedTight.scheduled) == rows(ungatedTight.scheduled))
    val defKeys = gatedTight.deferred.collect().map(_.url_key).toSet
    assert(defKeys.nonEmpty)
    assert(defKeys == ungatedTight.deferred.collect().map(_.url_key).toSet)
  }

  test("capped robots-ruled round: one window, no url_key exchange, one seen anti-join") {
    import spark.implicits._
    import graft.url.Urls
    // every fixture url once, plus copies of some keys that differ in
    // attempt and priority: a lower-priority copy wins, a higher-attempt
    // copy wins a priority tie, a higher-priority copy loses
    val base = universe.keys.toSeq.sorted.zipWithIndex.map { case (u, i) =>
      graft.model.FrontierEntry(Urls.sha256Hex(u), u, Urls.host(u), (i % 6).toDouble, 0, 0)
    }
    val copies = base.zipWithIndex.flatMap { case (e, i) =>
      (if (i % 3 == 0) Seq(e.copy(priority = e.priority - 0.5, attempt = 1, discovered_round = 1))
       else Nil) ++
      (if (i % 5 == 0) Seq(e.copy(priority = e.priority + 1.0, attempt = 2)) else Nil) ++
      (if (i % 7 == 0) Seq(e.copy(attempt = 1)) else Nil)
    }
    val entries = copies ++ base
    val robots = RobotsRules(Map(
      "h0.example.ir" -> HostRules(None, Some(4), Seq()),
      "h1.example.ir" -> HostRules(None, None, Seq("/search"))))
    val pol = PolitenessConfig(defaultBudget = 5, saltBuckets = 4, maxUrlsPerRound = 14L)
    val frontier = spark.createDataset(entries).repartition(3)

    val (simIn, simDeferred) = CrawlSimulator.scheduleRound(entries.map(e =>
      CrawlSimulator.SimEntry(e.url_key, e.url, e.host, e.priority, e.attempt,
        e.discovered_round)), robots, pol)
    // robots dropped rows, the cap cut and the budgets deferred below it
    assert(simIn.size + simDeferred.size < base.size)
    assert(simIn.size + simDeferred.size > pol.maxUrlsPerRound)
    assert(simIn.size < pol.maxUrlsPerRound)

    val ((scheduled, deferred), schedulePlans) = withPlans {
      val plan = FrontierRound.schedule(spark, frontier, robots, pol)
      try (plan.scheduled.select("url_key", "slot").as[(String, Int)].collect(),
        plan.deferred.collect())
      finally plan.caches.foreach(_.unpersist(true))
    }
    assert(scheduled.toSet == simIn.map { case (e, slot) => (e.urlKey, slot) }.toSet)
    assert(deferred.map(e => (e.url_key, e.priority, e.attempt, e.discovered_round)).sorted.toSeq ==
      simDeferred.map(e => (e.urlKey, e.priority, e.attempt, e.discoveredRound)).sorted)
    val nodes = planNodes(schedulePlans)
    assert(nodes.count(_.isInstanceOf[WindowExec]) == 1)
    val urlKeyExchanges = nodes.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect {
      case h: HashPartitioning if h.references.exists(_.name == "url_key") => h
    }
    assert(urlKeyExchanges.isEmpty, urlKeyExchanges)

    // the whole round: its tables and next frontier
    val seen = spark.createDataset(base.take(6).map(_.url_key)).toDF("url_key")
    val (_, roundPlans) = withPlans {
      val out = FrontierRound.run(spark, pagesDf, frontier, Some(seen), 0, robots, pol)
      try {
        out.tables.values.foreach(_.collect())
        out.newFrontier.collect()
      } finally out.caches.foreach(_.unpersist(true))
    }
    val roundNodes = planNodes(roundPlans)
    assert(roundNodes.count(_.isInstanceOf[WindowExec]) == 1)
    assert(leftAntiJoins(roundNodes).size == 1, leftAntiJoins(roundNodes))
  }

  test("capped round under RowsPerFile rows: one-partition cut exchange, == simulator") {
    import spark.implicits._
    import graft.url.Urls
    val entries = universe.keys.toSeq.sorted.zipWithIndex.map { case (u, i) =>
      graft.model.FrontierEntry(Urls.sha256Hex(u), u, Urls.host(u), (i % 6).toDouble, 0, 0)
    }
    val pol = PolitenessConfig(defaultBudget = 5, saltBuckets = 4, maxUrlsPerRound = 14L)
    assert(entries.size > pol.maxUrlsPerRound && entries.size <= FrontierStore.RowsPerFile)
    val frontier = spark.createDataset(entries).repartition(3)
    val (simIn, simDeferred) = CrawlSimulator.scheduleRound(entries.map(e =>
      CrawlSimulator.SimEntry(e.url_key, e.url, e.host, e.priority, e.attempt,
        e.discovered_round)), RobotsRules.empty, pol)

    def exchanges(bound: Long) = {
      val ((scheduled, deferred), plans) = withPlans {
        val plan = FrontierRound.schedule(spark, frontier, RobotsRules.empty, pol,
          frontierSizeBound = bound)
        try (plan.scheduled.select("url_key", "slot").as[(String, Int)].collect(),
          plan.deferred.collect())
        finally plan.caches.foreach(_.unpersist(true))
      }
      assert(scheduled.toSet == simIn.map { case (e, slot) => (e.urlKey, slot) }.toSet)
      assert(deferred.map(e => (e.url_key, e.priority)).sorted.toSeq ==
        simDeferred.map(e => (e.urlKey, e.priority)).sorted)
      planNodes(plans).collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    }
    // a one-partition range exchange plans as a single-partition exchange:
    // no RangePartitioner, so no sampling job, and phase 2's per-host
    // window needs no exchange of its own
    val bounded = exchanges(entries.size.toLong)
    assert(bounded.count(_ == SinglePartition) == 1, bounded)
    assert(!bounded.exists(_.isInstanceOf[RangePartitioning]), bounded)
    // with no bound the cut keeps the session's shuffle partitions
    val unbounded = exchanges(-1L).collect { case r: RangePartitioning => r.numPartitions }
    assert(unbounded == Seq(spark.sessionState.conf.numShufflePartitions))
  }
}
