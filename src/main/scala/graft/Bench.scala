package graft

import graft.fixtures.{FixtureConfig, FixtureGen}
import graft.frontier.{FrontierCrawl, PolitenessConfig, RobotsRules}
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: headline = crawl throughput (URLs fetched +
  * extracted per second) over a generated Common-Crawl-style pages table —
  * the BASELINE.json metric — plus per-query timings for the operator
  * inventory. One JSON line on stdout.
  */
object Bench {

  /** Bucket count of the bench pages table — a table property (fixed at
    * ingest), deliberately NOT a function of run parallelism: local[4]
    * runs 16 waves of it, local[16] runs 4.
    */
  val BenchBuckets = 64

  /** The ONE measurement-session builder, shared by every bench/profile
    * main (Bench, ScalingBench, QueryScale, ProfileRound) so
    * a tuning change — tmpfs local dir, broadcast threshold, UTC — lands
    * everywhere at once instead of silently diverging per tool.
    * `localDirName` keeps concurrent tools from sharing a shuffle dir.
    */
  def benchSession(cores: Int, localDirName: String = "graft-bench-local",
      aqe: Boolean = true): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", aqe.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // tmpfs shuffle/cache dirs + generous broadcast threshold: stabilizes
      // local-mode timings (block-device jitter) and broadcasts the
      // schedule side of the fetch join
      .config("spark.local.dir",
        if (new java.io.File("/dev/shm").canWrite) s"/dev/shm/$localDirName"
        else System.getProperty("java.io.tmpdir"))
      .config("spark.sql.autoBroadcastJoinThreshold", (256L * 1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drain a synthetic web of `details` pages and return
    * (urls scheduled, rounds, seconds).
    */
  def crawlDrain(spark: SparkSession, details: Int, hosts: Int,
      partitions: Int): (Long, Int, Double) = {
    val cfg = FixtureConfig(seed = 42L, hosts = hosts, totalDetails = details,
      paginationFanout = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-pages").toString
    FixtureGen.pages(spark, cfg, partitions).write.mode("overwrite").parquet(dir)
    val pages = spark.read.parquet(dir)
    // throughput configuration: politeness budgets wide open so the drain
    // is compute/shuffle-bound (the politeness *mechanism* still runs)
    val pol = PolitenessConfig(defaultBudget = Int.MaxValue / 2,
      defaultDelayMs = 0L, maxRetries = 0, saltBuckets = partitions,
      // SPARK_GRAFT_DRAIN_CAP (diagnostic): run the drain as a PRIORITY
      // QUEUE with a binding per-round capacity — prices the cut
      // end-to-end against the open-budget drain on the same web
      maxUrlsPerRound = sys.env.get("SPARK_GRAFT_DRAIN_CAP")
        .map(_.toLong).getOrElse(-1L))
    val t0 = System.nanoTime()
    val result = FrontierCrawl.run(spark, pages, cfg.seeds, None,
      RobotsRules.empty, pol, maxRounds = 50)
    val extracted = result.extracted.count()
    val scheduled = result.results.count()
    val secs = (System.nanoTime() - t0) / 1e9
    // cleanup temp pages
    try {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    } catch { case _: Throwable => }
    (scheduled, result.rounds, secs)
  }

  /** One large frontier round over all URLs of a generated web — the
    * "frontier-round wall-time" / scaling-efficiency measurement (the
    * multi-round drain amortizes per-round driver overhead poorly in
    * local mode; scaling evidence uses the round itself).
    */
  def singleRound(spark: SparkSession, details: Int, hosts: Int,
      partitions: Int, pagesDir: String, bucketed: Boolean = true): (Long, Double) = {
    import spark.implicits._
    val cfg = FixtureConfig(seed = 42L, hosts = hosts, totalDetails = details,
      paginationFanout = 8, wordScale = 6, megaPerMille = 100)
    // Bucketed-by-url pages table (PLANS.md §8): written once outside the
    // timed region — the at-scale ingest shape — so the fetch join has
    // ZERO pages-side exchange and no driver-side broadcast build (a fixed
    // per-round cost that poisons N→4N scaling). Bucket count is a fixed
    // table property (like a real ingest), not a function of parallelism.
    val pages =
      if (bucketed) {
        val tbl = "graft_bench_pages_" + math.abs(pagesDir.hashCode)
        if (!new java.io.File(pagesDir, "_SUCCESS").exists()) {
          sources.PagesTable.writeBucketed(spark,
            FixtureGen.pages(spark, cfg, partitions).toDF(), tbl, pagesDir,
            buckets = BenchBuckets)
          // saveAsTable writes no _SUCCESS at the root for bucketed tables
          // on all layouts; stamp one so re-runs skip the build
          new java.io.File(pagesDir, "_SUCCESS").createNewFile()
          spark.table(tbl)
        } else sources.PagesTable.bind(spark, tbl, pagesDir, buckets = BenchBuckets)
      } else {
        if (!new java.io.File(pagesDir, "_SUCCESS").exists())
          FixtureGen.pages(spark, cfg, partitions).write.mode("overwrite").parquet(pagesDir)
        spark.read.parquet(pagesDir)
      }
    val allUrls = spark.range(0, cfg.totalRows.toLong, 1, partitions)
      .map(i => (FixtureGen.urlOf(cfg, i), i.toDouble))
      .toDF("url", "priority")
    val frontier = graft.frontier.FrontierRound
      .toFrontier(spark, allUrls, 0).localCheckpoint(true)
      .as[graft.model.FrontierEntry]
    val pol = PolitenessConfig(defaultBudget = Int.MaxValue / 2,
      defaultDelayMs = 0L, maxRetries = 0, saltBuckets = partitions,
      fetchJoinHint = if (bucketed) Some("merge") else None)
    val t0 = System.nanoTime()
    val out = graft.frontier.FrontierRound.run(spark, pages, frontier, None, 0,
      RobotsRules.empty, pol)
    val extracted = out.extracted.count()
    // the round is only done once the NEXT frontier exists: outlink
    // discovery, canonicalization, and the seen anti-join are part of the
    // timed region (they are real per-round work, not bookkeeping)
    out.newFrontier.count()
    val secs = (System.nanoTime() - t0) / 1e9
    out.caches.foreach(_.unpersist(false))
    (extracted, secs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = benchSession(cpus.toInt)

    // operator-inventory timings — PROBE-GATED (BENCH_r02 lesson: the r2
    // query suite ran through a host-degraded window and recorded 9-15x
    // stall-inflated garbage as the round's official numbers). Pass 1 warms
    // every query ungated (JIT + parquet footers + plan caches); pass 2
    // times each query inside BenchGate with light probes (single-run,
    // short cooldown — 40+ queries must stay cheap) and records a per-query
    // certification flag so a reader can tell a real regression from an
    // uncertifiable window.
    val threads = math.min(cpus.toInt, 16)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val queryFilter = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    // suite tiering: rows whose time measures FIXTURE CONSTRUCTION, index
    // builds, or per-batch commit latency rather than data-sized operator
    // work are excluded from the per-round bench (they diluted the r4
    // suite: ~50s of its 111s). They still run in Verify — the correctness
    // gate keeps full coverage — and SPARK_GRAFT_FULL_SUITE=1 (or naming
    // them in SPARK_GRAFT_QUERIES) times them on demand.
    val fixedCostRows = Set("pipeline_training_data", "pipeline_curate_stream",
      "search_bm25_index_append", "multimodal_image_meta",
      "multimodal_audio_meta", "multimodal_frames", "warc_parse",
      "graph_anchor_text", "trap_detect", "sitemap_parse", "redirect_resolve",
      "frontier_cap", "adaptive_budgets",
      // the incremental-index rows build + compact persisted GraphIndex
      // tables per run — commit latency, same class as bm25_index_append
      "graph_anchor_incremental", "graph_anchor_probe",
      "graph_rank_incremental",
      // exif/mp3 decode fixed-size hand-muxed fixtures
      "multimodal_exif_orientation", "multimodal_mp3_meta",
      "multimodal_video_meta",
      // real disk write + re-ingest: commit/IO latency, the warc_parse class
      "warc_roundtrip")
    val fullSuite = queryFilter.isDefined ||
      sys.env.contains("SPARK_GRAFT_FULL_SUITE")
    val selected = names.filter(n => queryFilter.forall(_.contains(n)))
      .filter(n => fullSuite || !fixedCostRows(n))
    selected.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case e: Throwable =>
        Console.err.println(s"[bench] warm $n failed: $e")
      }
    }
    // a crashed query must not publish its failure latency as a timing
    // (the QueryScale lesson): record the sentinel -1.0, uncertified
    val results = selected.map { name =>
      name -> (try {
        BenchGate.gated(s"query:$name", threads,
          maxAttempts = 3, cooldownMs = 5000L, probeMinOf = 1, maxWaits = 6) {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
      } catch { case scala.util.control.NonFatal(e) =>
        Console.err.println(s"[bench] $name FAILED: $e")
        (-1.0, false)
      })
    }
    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qCert = results.map { case (k, (_, c)) => "\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    // -1.0 failure sentinels must not SUBTRACT from the suite total (a
    // crashed query would otherwise read as an "improvement")
    val queryTotal = results.map(_._2._1).filter(_ >= 0).sum
    val uncertified = results.collect { case (k, (_, false)) => k }

    if (queryFilter.isDefined) {
      // spot-measurement mode: queries only, no headline/drain
      println(s"""{"metric":"query_spot","query_total_seconds":$queryTotal,"queries":$qs,"query_certified":$qCert,"uncertified":${uncertified.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}""")
      spark.stop(); return
    }

    // headline: one large frontier-round fetch+extract (the BASELINE.json
    // metric: URLs fetched+extracted/sec + frontier-round wall-time);
    // warm once (JIT) then measure
    val pagesDir = System.getProperty("java.io.tmpdir") + "/graft-bench-round-pages"
    new scala.reflect.io.Directory(new java.io.File(pagesDir)).deleteRecursively()
    Bench.singleRound(spark, 20000, 32, cpus.toInt,
      pagesDir + "-warm")
    new scala.reflect.io.Directory(new java.io.File(pagesDir + "-warm")).deleteRecursively()
    // probe-gated best-of-3: the host shows intermittent multi-second
    // stalls (see BENCH/BASELINE.md protocol), so a single round is a
    // lottery and an ungated one can record a stalled window as the result
    var headlineCert = true
    val headline = (1 to 3).map { i =>
      val (r, c) = BenchGate.gated(s"round#$i", threads, maxAttempts = 3,
        cooldownMs = 10000L, probeMinOf = 1, maxWaits = 6) {
        Bench.singleRound(spark, 200000, 128, cpus.toInt, pagesDir)
      }
      headlineCert &&= c
      r
    }
    val (roundUrls, roundSecs) = headline.minBy(_._2)
    new scala.reflect.io.Directory(new java.io.File(pagesDir)).deleteRecursively()
    val ups = roundUrls / roundSecs

    // secondary: the multi-round politeness drain (round-loop wall time)
    val ((urls, rounds, secs), drainCert) =
      BenchGate.gated("drain", threads, maxAttempts = 3,
        cooldownMs = 10000L, probeMinOf = 1, maxWaits = 6) {
        crawlDrain(spark, details = 20000, hosts = 32, partitions = cpus.toInt)
      }

    val excluded =
      if (fullSuite) Nil else fixedCostRows.toSeq.sorted.filter(names.contains)
    println(s"""{"metric":"crawl_urls_per_sec","value":$ups,"unit":"urls/sec","round_urls":$roundUrls,"round_seconds":$roundSecs,"round_certified":$headlineCert,"drain_urls":$urls,"drain_rounds":$rounds,"drain_seconds":$secs,"drain_urls_per_sec":${urls / secs},"drain_certified":$drainCert,"query_total_seconds":$queryTotal,"queries":$qs,"query_certified":$qCert,"uncertified":${uncertified.map("\"" + _ + "\"").mkString("[", ",", "]")},"correctness_only_rows":${excluded.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}""")
    spark.stop()
  }
}
