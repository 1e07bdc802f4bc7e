package graft

import graft.frontier.{FrontierRound, PolitenessConfig}
import graft.model.FrontierEntry
import graft.seen.{CuckooFilter, CuckooSeenAggregator, SeenSet}
import graft.url.Urls
import org.apache.spark.sql.functions._

/** The SQL-registrable cuckoo seen-set aggregate + the bucket-aligned
  * not-seen probe (SURVEY.md §2.10).
  */
class SeenSetSpec extends SparkTestBase {

  private def keysDf(keys: Seq[String]) = {
    import spark.implicits._
    keys.toDF("url_key")
  }

  private def entries(keys: Seq[String]) = {
    import spark.implicits._
    spark.createDataset(keys.map(k =>
      FrontierEntry(k, s"https://h.example.ir/$k", "h.example.ir", 0.0, 0, 0)))
  }

  test("aggregator: distributed build has no false negatives") {
    val keys = (1 to 5000).map(i => Urls.sha256Hex(s"key$i"))
    val bytes = SeenSet.buildBucketFilters(keysDf(keys).repartition(7), buckets = 1,
      expectedPerBucket = 8192)(0)
    val f = CuckooFilter.deserialize(bytes)
    assert(keys.forall(f.mightContain), "no false negatives")
    val absent = (1 to 2000).map(i => Urls.sha256Hex(s"other$i"))
    val fpRate = absent.count(f.mightContain).toDouble / absent.size
    assert(fpRate < 0.01, s"fp rate $fpRate")
  }

  test("aggregator: merge order/partitioning does not change membership") {
    val keys = (1 to 3000).map(i => Urls.sha256Hex(s"m$i"))
    val probes = keys ++ (1 to 3000).map(i => Urls.sha256Hex(s"absent$i"))
    def membership(partitions: Int): Seq[Boolean] = {
      val bytes = SeenSet.buildBucketFilters(keysDf(keys).repartition(partitions),
        buckets = 1, expectedPerBucket = 8192)(0)
      val f = CuckooFilter.deserialize(bytes)
      probes.map(f.mightContain)
    }
    // true membership identical; fp noise tolerated only where key absent
    val m1 = membership(1); val m8 = membership(8)
    keys.indices.foreach(i => assert(m1(i) && m8(i)))
    // the fp sets may differ slightly, but must both stay tiny
    assert(m1.drop(keys.size).count(identity) < 30)
    assert(m8.drop(keys.size).count(identity) < 30)
  }

  test("aggregator: overflow past capacity never yields a false negative") {
    val keys = (1 to 4000).map(i => Urls.sha256Hex(s"o$i"))
    // capacity far below the key count forces kick-loop failures → stash
    val bytes = SeenSet.buildBucketFilters(keysDf(keys), buckets = 1,
      expectedPerBucket = 512)(0)
    val f = CuckooFilter.deserialize(bytes)
    assert(keys.forall(f.mightContain), "overflow must spill to stash, not drop")
  }

  test("bucketOf is independent of the filter's bucket bits: stash ~empty at design load") {
    // 64 Spark buckets × ~800 keys, each filter sized for 800 (≈0.78 load).
    // bucketOf must draw on DIFFERENT hash bits than CuckooFilter.bucketIndex:
    // if the Spark bucket fixed the filter's low index bits, only nb/64
    // primary cuckoo buckets would be reachable per filter and the kick loop
    // would overflow to the stash far below nominal capacity.
    val keys = (1 to 64 * 800).map(i => Urls.sha256Hex(s"load$i"))
    val filters = SeenSet.buildBucketFilters(keysDf(keys).repartition(8),
      buckets = 64, expectedPerBucket = 800)
    assert(filters.size == 64, "all 64 buckets populated")
    val totalStash = filters.values.map(CuckooFilter.deserialize(_).stashSize).sum
    assert(totalStash == 0, s"stash must stay empty at design load, got $totalStash")
  }

  test("cuckoo probe and notSeen equal the exact anti-join") {
    val spark0 = spark
    import spark0.implicits._
    val seen = (1 to 800).map(i => Urls.sha256Hex(s"s$i"))
    val cand = (600 to 1400).map(i => Urls.sha256Hex(s"s$i")) // overlap 600-800
    val exact = entries(cand).join(keysDf(seen), Seq("url_key"), "left_anti")
      .as[FrontierEntry].collect().map(_.url_key).toSet
    assert(exact.size == 600)
    val viaCuckoo = SeenSet.notSeenCuckooBucketed(spark, entries(cand), keysDf(seen),
      buckets = 16, expectedPerBucket = 256).collect().map(_.url_key).toSet
    val viaNotSeen = FrontierRound.notSeen(spark, entries(cand), keysDf(seen),
      PolitenessConfig()).collect().map(_.url_key).toSet
    assert(viaCuckoo == exact)
    assert(viaNotSeen == exact)
  }

  test("bucket-local probe: parity with exact anti-join, no driver materialization") {
    val spark0 = spark
    import spark0.implicits._
    val seen = (1 to 900).map(i => Urls.sha256Hex(s"b$i"))
    val cand = (700 to 1600).map(i => Urls.sha256Hex(s"b$i")) // overlap 700-900
    val exact = entries(cand).join(keysDf(seen), Seq("url_key"), "left_anti")
      .as[FrontierEntry].collect().map(_.url_key).toSet

    // accumulator evidence of the bucket-LOCAL contract: filters are
    // deserialized on EXECUTORS (a driver-side map would never touch the
    // accumulator) and at most once per (bucket, consuming-task) — not once
    // per candidate row
    val deser = spark.sparkContext.longAccumulator("cuckoo-deser")
    val viaBucketed = SeenSet.notSeenCuckooBucketed(spark,
      entries(cand).repartition(8), keysDf(seen).repartition(8),
      buckets = 16, expectedPerBucket = 256, deserCounter = Some(deser))
      .collect().map(_.url_key).toSet
    assert(viaBucketed == exact)
    assert(deser.value > 0, "filters must be probed executor-side")
    assert(deser.value <= 16, s"once per bucket, not per row: ${deser.value}")

    // the distributed filter frame itself never collects: it is a plain
    // DataFrame whose rows live in executor partitions
    val filtersDf = SeenSet.bucketFiltersDF(keysDf(seen), 16, 256)
    assert(filtersDf.count() == 16)

    // the FrontierRound config flag routes through the same path
    val viaFlag = FrontierRound.notSeen(spark, entries(cand), keysDf(seen),
      PolitenessConfig(cuckooSeenBuckets = 16, cuckooExpectedPerBucket = 256))
      .collect().map(_.url_key).toSet
    assert(viaFlag == exact)
  }
}
