package graft

import graft.fixtures.{FixtureConfig, FixtureGen}
import graft.frontier.{FrontierRound, PolitenessConfig, RobotsRules}
import org.apache.spark.sql.SparkSession

/** Per-phase wall-time breakdown of one frontier round at a given
  * parallelism — diagnostic tooling for the scaling-efficiency work (finds
  * the fixed, non-scaling cost between local[N] and local[4N]). Not part of
  * the driver contract.
  *
  * Phases are forced in sequence (each materialized by its own action), so
  * the split is approximate — cached frames make later phases not re-run
  * earlier work.
  */
object ProfileRound {

  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val details = sys.env.getOrElse("SPARK_GRAFT_SCALE_DETAILS", "200000").toInt
    val pagesDir = sys.env.getOrElse("SPARK_GRAFT_PAGES_DIR", "/dev/shm/graft-profile-pages")
    val spark = Bench.benchSession(cores, localDirName = "spark-local")
    import spark.implicits._

    val bucketed = sys.env.getOrElse("SPARK_GRAFT_BUCKETED", "1") == "1"
    val cfg = FixtureConfig(seed = 42L, hosts = 128, totalDetails = details,
      paginationFanout = 8, wordScale = 6, megaPerMille = 100)
    val pages =
      if (bucketed) {
        val tbl = "graft_profile_pages"
        if (!new java.io.File(pagesDir, "_SUCCESS").exists()) {
          graft.sources.PagesTable.writeBucketed(spark,
            FixtureGen.pages(spark, cfg, cores).toDF(), tbl, pagesDir,
            buckets = Bench.BenchBuckets)
          new java.io.File(pagesDir, "_SUCCESS").createNewFile()
          spark.table(tbl)
        } else graft.sources.PagesTable.bind(spark, tbl, pagesDir, Bench.BenchBuckets)
      } else {
        if (!new java.io.File(pagesDir, "_SUCCESS").exists())
          FixtureGen.pages(spark, cfg, cores).write.mode("overwrite").parquet(pagesDir)
        spark.read.parquet(pagesDir)
      }
    val pol = PolitenessConfig(defaultBudget = Int.MaxValue / 2,
      defaultDelayMs = 0L, maxRetries = 0, saltBuckets = cores,
      fetchJoinHint = if (bucketed) Some("merge") else None)

    def once(tag: String): Unit = {
      val allUrls = spark.range(0, cfg.totalRows.toLong, 1, cores)
        .map(i => (FixtureGen.urlOf(cfg, i), i.toDouble))
        .toDF("url", "priority")
      val frontier = FrontierRound.toFrontier(spark, allUrls, 0)
        .localCheckpoint(true).as[graft.model.FrontierEntry]

      var t0 = System.nanoTime()
      def lap(name: String): Unit = {
        val t1 = System.nanoTime()
        println(f"[profile] $tag cores=$cores $name%-18s ${(t1 - t0) / 1e9}%7.2fs")
        t0 = t1
      }

      val plan = FrontierRound.schedule(spark, frontier, RobotsRules.empty, pol)
      val scheduled = plan.scheduled.cache()
      scheduled.count()
      lap("schedule")

      val out = FrontierRound.run(spark, pages, frontier, None, 0,
        RobotsRules.empty, pol)
      lap("run_plan_build") // includes a second schedule() pass
      out.extracted.count()
      lap("fetch_extract")
      out.newFrontier.count()
      lap("frontier_next")
      (out.caches :+ scheduled).foreach(_.unpersist(true))
      plan.caches.foreach(_.unpersist(true))
      // drop lingering blocks (localCheckpoints, stray caches) between
      // runs — async unpersist + ContextCleaner lag otherwise accumulates
      // storage across runs and poisons later measurements
      spark.sqlContext.clearCache()
      System.gc()
    }

    once("warm")
    once("run1")
    once("run2")
    spark.stop()
  }
}
