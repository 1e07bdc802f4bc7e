package graft

import graft.frontier.Recrawl
import org.apache.spark.sql.functions._

/** Recrawl scheduling vs a scalar reference of the Cho–Garcia-Molina
  * estimator, plus the single-exchange plan contract.
  */
class RecrawlSpec extends SparkTestBase {

  import spark.implicits._

  // handmade history: u0 changes every observation, u1 never, u2 half the
  // time with a gap pattern, u3 single observation, u4 has a null-hash
  // (failed fetch) round that must not break the chain, u5 two rows in one
  // round (dedup to one observation), u6 every fetch failed, u7 the
  // review-wave case: a same-round duplicate pair must NOT register a
  // zero-interval change
  private val history = Seq(
    ("u0", 0L, "a"), ("u0", 2L, "b"), ("u0", 4L, "c"), ("u0", 6L, "d"),
    ("u1", 0L, "x"), ("u1", 3L, "x"), ("u1", 9L, "x"),
    ("u2", 0L, "p"), ("u2", 1L, "p"), ("u2", 5L, "q"), ("u2", 8L, "q"),
    ("u3", 4L, "z"),
    ("u4", 0L, "m"), ("u4", 2L, null), ("u4", 7L, "n"),
    ("u5", 3L, "s"), ("u5", 3L, "t"),
    ("u6", 1L, null), ("u6", 4L, null),
    ("u7", 5L, "a"), ("u7", 5L, "b"), ("u7", 9L, "a")
  ).toDF("url_key", "round", "content_hash")

  private def refRate(n: Int, x: Int, gapSum: Long): Option[Double] =
    if (n < 1 || gapSum <= 0) None
    else Some(BigDecimal(-math.log((n - x + 0.5) / (n + 0.5)) / (gapSum.toDouble / n))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

  test("changeStats matches the scalar estimator on every shape") {
    val got = Recrawl.changeStats(history).collect()
      .map(r => r.getAs[String]("url_key") -> r).toMap
    def rate(u: String): Double = got(u).getAs[Double]("change_rate")
    def nullRate(u: String): Boolean = got(u).isNullAt(got(u).fieldIndex("change_rate"))
    // u0: 4 obs, 3 intervals, 3 changes, span 6
    assert(got("u0").getAs[Long]("n_obs") == 4 && got("u0").getAs[Long]("n_changes") == 3)
    assert(math.abs(rate("u0") - refRate(3, 3, 6).get) < 1e-9)
    // u1: never changes — n=2, x=0: -ln(2.5/2.5) = 0
    assert(got("u1").getAs[Long]("n_changes") == 0 && rate("u1") == 0.0)
    // u2: 4 obs, one change (p,p,q,q), span 8
    assert(got("u2").getAs[Long]("n_changes") == 1)
    assert(math.abs(rate("u2") - refRate(3, 1, 8).get) < 1e-9)
    // u3: single obs — null rate
    assert(got("u3").getAs[Long]("n_obs") == 1 && nullRate("u3"))
    // u4: failed round 2 doesn't break the m→n chain — 2 obs, 1 change,
    // observed span 0..7, last attempt 7
    assert(got("u4").getAs[Long]("n_obs") == 2 && got("u4").getAs[Long]("n_changes") == 1 &&
      got("u4").getAs[Long]("first_round") == 0 && got("u4").getAs[Long]("last_round") == 7 &&
      got("u4").getAs[Long]("last_attempt_round") == 7)
    assert(math.abs(rate("u4") - refRate(1, 1, 7).get) < 1e-9)
    // u5: two rows in ONE round dedup to the min-hash representative —
    // a single observation, no change, null rate
    assert(got("u5").getAs[Long]("n_obs") == 1 && got("u5").getAs[Long]("n_changes") == 0 &&
      nullRate("u5"))
    // u6: every fetch failed — the url still emits a row (n_obs 0, null
    // observed rounds, last attempt kept) so the scheduler can see it
    assert(got("u6").getAs[Long]("n_obs") == 0 && got("u6").getAs[Long]("n_changes") == 0)
    assert(got("u6").isNullAt(got("u6").fieldIndex("last_round")))
    assert(got("u6").getAs[Long]("last_attempt_round") == 4)
    // u7: the same-round duplicate (5,'a')/(5,'b') dedups to 'a'; the only
    // real interval 5→9 shows NO change (a→a) — rate 0, not inflated
    assert(got("u7").getAs[Long]("n_obs") == 2 && got("u7").getAs[Long]("n_changes") == 0)
    assert(rate("u7") == 0.0)
  }

  test("recrawlPriority: staleness orders urls correctly; defaults for unknowns") {
    val pri = Recrawl.recrawlPriority(Recrawl.changeStats(history),
      currentRound = 10L, defaultRate = 0.05)
      .collect().map(r => r.getAs[String]("url_key") ->
        (r.getAs[Double]("p_stale"), r.getAs[Double]("priority"))).toMap
    // never-changing u1 has rate 0 => p_stale 0
    assert(pri("u1")._1 == 0.0)
    // always-changing u0 (age 4) is very stale and schedules before u2
    assert(pri("u0")._1 > pri("u2")._1)
    // priority is the negation (lower = schedules first)
    assert(pri("u0")._2 == -pri("u0")._1)
    // single-obs u3: default rate, age 6 => 1 - exp(-0.3)
    val want = BigDecimal(1.0 - math.exp(-0.05 * 6))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(pri("u3")._1 - want) < 1e-9)
    // never-observed u6 is maximally stale — schedules first of all
    assert(pri("u6")._1 == 1.0 && pri("u6")._2 == -1.0)
  }

  test("generation loop: changed pages out-prioritize stable ones through the real capped schedule") {
    import graft.frontier.FrontierRound
    import graft.model.Extracted
    // two crawl generations over 20 urls; urls 0-4 changed content
    // between them (everything else byte-identical)
    def gen(g: Long, changed: Set[Long]) = spark.createDataset(
      (0L until 20L).map { i =>
        val v = if (changed.contains(i) && g > 0) s"v$g" else "v0"
        Extracted(s"http://h${i % 3}.ir/p$i", s"f$i", s"q$i-$v", s"a$i", s"c$i",
          "", "", "", "")
      }).toDF()
    val history = graft.frontier.Recrawl.historyFromExtracted(gen(0, Set.empty), 0L)
      .union(graft.frontier.Recrawl.historyFromExtracted(gen(1, (0L until 5L).toSet), 10L))
    val frontier = graft.frontier.Recrawl.reseedFrontier(spark, history,
      currentRound = 20L)
    assert(frontier.count() == 20)
    // the priority-queue cut at capacity 5 must spend the whole budget on
    // exactly the changed pages (rate > 0 vs 0; equal ages)
    val (kept, cut, _) = FrontierRound.capByPriority(spark, frontier, 5L)
    val keptUrls = kept.collect().map(_.url).toSet
    assert(keptUrls == (0L until 5L).map(i => s"http://h${i % 3}.ir/p$i").toSet, keptUrls)
    assert(cut.count() == 15)
    // url_key parity with the engine's scalar keying
    val k = frontier.filter($"url" === "http://h0.ir/p0").head().url_key
    assert(k == graft.url.Urls.sha256Hex("http://h0.ir/p0"))
  }

  test("changeStats is a single-exchange plan (dedup, pairing, agg share the url partitioning)") {
    val plan = Recrawl.changeStats(history).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, plan)
  }
}
