package graft

import graft.extract.Extractor
import graft.ops.{Ann, CharLm, Classify, Curation, Decontaminate, Dedup, Multimodal, Search, TextStats, Tokenize}
import graft.sources.WarcSource
import graft.text.JalaliDate
import graft.url.Urls
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data ops), each with a DuckDB-runnable
  * oracle where SQL-expressible. Column names are aliased identically on
  * both sides (the driver compares by sorted column name + value hash).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // one-shot JVM shutdown-hook cleanup for gate-row scratch dirs (the
  // warc round trip writes real files; read() streams them lazily, so
  // in-query deletion is impossible — reclaim at exit instead)
  private val exitCleanup = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def cleanupOnExit(dir: String): Unit =
    if (exitCleanup.add(dir)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(dir))
      }))
      ()
    }

  /** One byte as two uppercase hex chars — shared by the payload-building
    * multimodal gate queries. */
  private def hexByte(v: Column): Column = lpad(hex(v.cast("long")), 2, "0")

  /** Spread a narrow scan across the session's parallelism before
    * CPU-bound per-row work: a small gate fixture reads as ONE file split
    * (128 MB default split size), so map-side work — sha256/Jalali scalar
    * maps, shingling, char-ngram explosion, k-means assignment, the
    * constructed-corpus md5 forest — otherwise runs on a single core until
    * the first exchange (guide §2.5/§6, input parallelism). A no-op (no
    * exchange inserted) whenever the input is already at least as parallel
    * as the session, so at real corpus scale this never adds a shuffle.
    */
  private def scalarMapInput(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  private val Md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 lowercase-hex chars of md5(s) — bit-identical to Spark's
    * `substring(md5(s), 1, 8)` and DuckDB's `substr(md5(s), 1, 8)`
    * (FunctionsSpec pins the equivalence against the Spark expression).
    */
  private def md5Hex8(sIn: String): String = {
    val d = Md5Local.get()
      .digest(sIn.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = "0123456789abcdef"
    val out = new Array[Char](8)
    var i = 0
    while (i < 4) {
      val v = d(i) & 0xff
      out(i * 2) = hex.charAt(v >>> 4)
      out(i * 2 + 1) = hex.charAt(v & 0xf)
      i += 1
    }
    new String(out)
  }

  /** The constructed-corpus text of one doc id: 40 md5-derived 8-char
    * tokens, space-joined — `md5(id + seed + j).substr(0, 8)` for j in
    * 0..39, exactly the string the curate-family DuckDB oracles rebuild.
    */
  private[graft] def forestText(id: Long, seed: String): String = {
    val sb = new java.lang.StringBuilder(40 * 9)
    var j = 0
    while (j < 40) {
      if (j > 0) sb.append(' ')
      sb.append(md5Hex8(id.toString + seed + j))
      j += 1
    }
    sb.toString
  }

  /** (doc_id, text) forest corpus over `ids` (single bigint column),
    * shifted by `offset` — a TYPED map instead of the former
    * `transform(sequence(0, 39), j => substring(md5(concat(...)), 1, 8))`
    * expression: nested higher-order functions run interpreted and the
    * forest measured ~4 ms/row (≈18 CPU-seconds per 4000-row checkpoint);
    * the typed twin computes the identical strings at ~40 µs/row.
    */
  private def forestDf(s: SparkSession, ids: DataFrame, offset: Long,
      seed: String): DataFrame = {
    import s.implicits._
    ids.as[Long]
      .map { id0 => val id = id0 + offset; (id, forestText(id, seed)) }
      .toDF("doc_id", "text")
  }

  /** documents table doubled with offset ids — guarantees exact duplicates
    * for the dedup operators (same construction in the oracle SQL).
    */
  private def doubledDocs(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    d.unionAll(d.withColumn("doc_id", col("doc_id") + 100000L))
  }

  /** Flagship: HTML-wrap the documents table into reference-shaped detail
    * pages, run the byte-identical extractor, return (doc_id, content).
    * Driver smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    qExtract(spark, "/root/testdata/sf0.001")

  /** Build a reference-shaped detail page around each document's text and
    * extract it back — an end-to-end oracle for the §2.3 invariant: DuckDB
    * computes the expected content directly from the source text.
    */
  private def qExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val html = concat(
      lit("<html><body><div id=\"mvcContainer-1286\"><div><div><div>hdr</div><div><div>" +
        "<div><div>x</div><div><div>1</div><div>2</div><div>1403/1/1</div></div></div>" +
        "<div><div><div>h</div><div><div>"),
      col("text"),
      lit("</div></div><div>s</div><div><div>a</div></div></div></div>" +
        "</div></div></div></div></div></body></html>"))
    t(s, dir, "documents")
      .select(col("doc_id"), html.as("page"))
      .as[(Long, String)]
      .map { case (id, page) => (id, Extractor.extract(s"u$id", id.toString, page).question) }
      .toDF("doc_id", "extracted_text")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregations (SURVEY §2.5) ----
    "q1_agg" -> ((s, dir) => t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 3).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 3).as("revenue"),
        count(lit(1)).as("n_rows"))),

    "a1_dup_groups" -> ((s, dir) => t(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") >= 2)),

    "a2_distinct_card" -> ((s, dir) => t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))),

    "a3_dup_stats" -> ((s, dir) => t(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .agg(sum(col("c") - 1).as("n_duplicates"), sum(col("c")).as("sum_c"),
        max(col("c")).as("max_bucket"), count(lit(1)).as("n_buckets"))
      // integer-exact mean (micro-units, floor): double round() halfway
      // semantics differ between engines, integer division doesn't
      .select(col("n_duplicates"),
        expr("(sum_c * CAST(1000000 AS BIGINT)) div n_buckets").as("avg_bucket_micros"),
        col("max_bucket"), col("n_buckets"))),

    "a5_resume_point" -> ((s, dir) => t(s, dir, "events")
      .groupBy(col("event_type")).agg(max(col("ts")).as("last_ts"))),

    // ---- windows / ranking / top-k (SURVEY §2.6) ----
    "w1_keep_first" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
    }),

    "w2_top10" -> ((s, dir) => t(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("dup_count"))
      .orderBy(col("dup_count").desc, col("o_custkey"))
      .limit(10)),

    "w3_rank_per_key" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      t(s, dir, "events").withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("event_type"), col("event_id"), col("value"), col("rnk"))
    }),

    "graph_pagerank" -> ((s, dir) => {
      // frontier-priority link-graph rank (LinkRank.pageRank, 3 power
      // iterations, damping 0.85) over a deterministic synthetic web
      // graph: 500 linking nodes (k % 500) pointing at 700 targets (md5
      // draw % 700) — nodes 500-699 appear only as destinations, so the
      // dangling-mass path is exercised. Fully oracled: fixed iterations
      // unroll to three grouped-sum CTEs in DuckDB; double noise across
      // engines is ~1e-15, far inside round-6
      val edges = t(s, dir, "orders").filter(col("o_orderkey") < 6000)
        .select(col("o_orderkey").cast("long").as("k"))
        .select(pmod(col("k"), lit(500)).as("src"),
          pmod(conv(substring(md5(concat(col("k").cast("string"),
            lit("-pr"))), 1, 8), 16, 10).cast("long"), lit(700)).as("dst"))
      graft.frontier.LinkRank.pageRank(edges, iters = 3, damping = 0.85)
        .select(col("node"), round(col("rank"), 6).as("rank"))
    }),

    "graph_anchor_text" -> ((s, dir) => {
      // anchor-text extraction + top-k aggregation (AnchorText): pages are
      // CONSTRUCTED in SQL (the multimodal gate pattern) so the REAL
      // parser/resolver runs while the oracle knows every anchor
      // analytically. Each page carries a relative href, a "../" href
      // (exercises RFC merge + dot-segment canonicalization), an
      // absolute UPPERCASE-scheme href with entities + default port +
      // unsorted query + fragment (exercises the canonicalizer), and
      // javascript:/no-href noise the extractor must drop
      val pages = t(s, dir, "orders").filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey").cast("long").as("n"))
        .selectExpr(
          "concat('http://s', CAST(n % 7 AS STRING), '.ir/d/page', " +
            "CAST(n AS STRING), '.html') AS url",
          "concat('<html><body><a href=\"/t', CAST(n % 50 AS STRING), " +
            "'\">Target ', CAST(n % 50 AS STRING), '</a>', " +
            "'<a href=\"../shared.html\">Shared &amp; Co</a>', " +
            "'<a HREF=\"HTTP://Hub.IR:80/h?b=1&amp;a=2#z\">Hub ', " +
            "CAST(n % 3 AS STRING), '</a>', " +
            "'<a href=\"javascript:void(0)\">x</a><a>y</a>" +
            "</body></html>') AS html")
      graft.frontier.AnchorText.topAnchors(
        graft.frontier.AnchorText.anchors(pages).toDF(), k = 3)
    }),

    "graph_anchor_incremental" -> ((s, dir) => {
      // incremental anchor-signal maintenance (GraphIndex): the SAME pages
      // as graph_anchor_text arrive as two crawl deltas; each delta is
      // extracted + aggregated alone (O(delta)) and appended to the
      // persisted counted-key table; the indexed top-k must equal the
      // batch recompute — same oracle as graph_anchor_text
      val pages = t(s, dir, "orders").filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey").cast("long").as("n"))
        .selectExpr(
          "n",
          "concat('http://s', CAST(n % 7 AS STRING), '.ir/d/page', " +
            "CAST(n AS STRING), '.html') AS url",
          "concat('<html><body><a href=\"/t', CAST(n % 50 AS STRING), " +
            "'\">Target ', CAST(n % 50 AS STRING), '</a>', " +
            "'<a href=\"../shared.html\">Shared &amp; Co</a>', " +
            "'<a HREF=\"HTTP://Hub.IR:80/h?b=1&amp;a=2#z\">Hub ', " +
            "CAST(n % 3 AS STRING), '</a>', " +
            "'<a href=\"javascript:void(0)\">x</a><a>y</a>" +
            "</body></html>') AS html")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_anchor_inc"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true) // append ⇒ re-runnable only from clean
      graft.frontier.GraphIndex.anchorIndexInit(
        graft.frontier.AnchorText.anchors(pages.filter(col("n") % 2 === 0)).toDF(),
        path, buckets = 8)
      graft.frontier.GraphIndex.anchorIndexAppend(
        graft.frontier.AnchorText.anchors(pages.filter(col("n") % 2 === 1)).toDF(),
        path)
      graft.frontier.GraphIndex.topAnchorsIndexed(s, path, k = 3)
    }),

    "graph_anchor_probe" -> ((s, dir) => {
      // the retrieval-field READ path: top anchors for KNOWN targets via
      // the ab-bucket partition-pruned point probe (never a table scan) —
      // oracle = the batch aggregation filtered to the probed targets
      val pages = t(s, dir, "orders").filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey").cast("long").as("n"))
        .selectExpr(
          "concat('http://s', CAST(n % 7 AS STRING), '.ir/d/page', " +
            "CAST(n AS STRING), '.html') AS url",
          "concat('<html><body><a href=\"/t', CAST(n % 50 AS STRING), " +
            "'\">Target ', CAST(n % 50 AS STRING), '</a>', " +
            "'<a href=\"../shared.html\">Shared &amp; Co</a>', " +
            "'<a HREF=\"HTTP://Hub.IR:80/h?b=1&amp;a=2#z\">Hub ', " +
            "CAST(n % 3 AS STRING), '</a>', " +
            "'<a href=\"javascript:void(0)\">x</a><a>y</a>" +
            "</body></html>') AS html")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_anchor_probe"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.frontier.GraphIndex.anchorIndexInit(
        graft.frontier.AnchorText.anchors(pages).toDF(), path, buckets = 16)
      graft.frontier.GraphIndex.anchorsFor(s, path,
        Seq("http://hub.ir/h?a=2&b=1", "http://s3.ir/t10", "http://s0.ir/shared.html"),
        k = 3)
    }),

    "graph_rank_incremental" -> ((s, dir) => {
      // incremental link-graph maintenance: the graph_pagerank fixture
      // re-expressed as URL-level edges arriving in two crawl deltas; the
      // host-edge index maintains the graph O(delta) per append, and
      // hostRankIndexed ranks the MERGED graph — oracled by the same
      // unrolled 3-iteration SQL over host strings (self-loops drop, the
      // hostRank convention)
      val edges = t(s, dir, "orders").filter(col("o_orderkey") < 6000)
        .select(col("o_orderkey").cast("long").as("k"))
        .select(col("k"),
          concat(lit("http://n"), pmod(col("k"), lit(500)).cast("string"),
            lit(".ir/p"), col("k").cast("string")).as("src_url"),
          concat(lit("http://n"),
            pmod(conv(substring(md5(concat(col("k").cast("string"),
              lit("-pr"))), 1, 8), 16, 10).cast("long"), lit(700))
              .cast("string"),
            lit(".ir/q")).as("dst_url"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_hostedge_inc"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.frontier.GraphIndex.hostEdgeIndexInit(
        edges.filter(col("k") % 2 === 0), path, buckets = 8)
      graft.frontier.GraphIndex.hostEdgeIndexAppend(
        edges.filter(col("k") % 2 === 1), path)
      graft.frontier.GraphIndex.hostRankIndexed(s, path, iters = 3)
        .select(col("host"), round(col("rank"), 6).as("rank"))
    }),

    "trap_detect" -> ((s, dir) => {
      // crawl-trap host verdicts (TrapDetect.trapHosts) over a synthetic
      // url space: cal.ir explodes by template (every url → /d/{n}/{n}),
      // shop.ir by both routes (1 template + 7-param facet urls),
      // news.ir is authored-diverse (alpha path segments — nothing to
      // abstract), tiny.ir has trap shape but sits under minUrls. The
      // verdict is all-integer arithmetic — row-exact across engines
      val urls = t(s, dir, "orders").filter(col("o_orderkey") < 6000)
        .select(col("o_orderkey").cast("long").as("n"))
        .selectExpr(
          """CASE
               WHEN n % 3 = 0 THEN concat('http://cal.ir/d/',
                 CAST(2000 + n DIV 100 AS STRING), '/', CAST(n % 12 AS STRING))
               WHEN n % 3 = 1 THEN concat('http://shop.ir/list?a=',
                 CAST(n AS STRING), '&b=1&c=2&d=3&e=4&f=5&g=6')
               WHEN n % 12 = 2 AND n < 800 THEN
                 concat('http://tiny.ir/p/', CAST(n AS STRING))
               ELSE concat('http://news.ir/',
                 chr(97 + CAST(n % 24 AS INT)),
                 chr(97 + CAST((n DIV 24) % 24 AS INT)), '/story')
             END AS url""")
      graft.frontier.TrapDetect.trapHosts(urls,
        minUrls = 100L, explosion = 50L)
        .select(col("host"), col("n_urls"), col("n_templates"),
          col("n_key_sets"), col("signal_urls"), col("exploded"), col("trap"))
    }),

    "adaptive_budgets" -> ((s, dir) => {
      // politeness backoff (AdaptiveBudgets.fromResults): per-host error
      // rates drawn deterministically so the quartile k spans 0..4 —
      // host h's rows err when (rowIdx % 8) < (h % 9); clean hosts must
      // emit NO override row. All-integer arithmetic, row-exact oracle
      val results = t(s, dir, "orders").filter(col("o_orderkey") < 9000)
        .select(col("o_orderkey").cast("long").as("n"))
        .selectExpr(
          "concat('h', CAST(n % 40 AS STRING), '.ir') AS host",
          "CASE WHEN (n DIV 40) % 8 < (n % 40) % 9 THEN 'missing' " +
            "ELSE 'ok' END AS status")
      graft.frontier.AdaptiveBudgets.fromResults(results,
        base = 10, minBudget = 1)
    }),

    "frontier_cap" -> ((s, dir) => {
      // the priority-queue cut (FrontierRound.capByPriority): global
      // top-500 deduped frontier entries by (priority, url_key) via the
      // distributed range-partition prefix-sum — NOT a window or a
      // driver-side take. Fixture plants ~2.7 discovery copies per key
      // (dedup winner = min (priority, -attempt, discovered_round));
      // output carries both sides with a kept flag so the oracle checks
      // the cut AND the deferral exactly
      import org.apache.spark.sql.functions.lit
      val entries = t(s, dir, "orders").filter(col("o_orderkey") < 8000)
        .select(col("o_orderkey").cast("long").as("n"))
        .selectExpr(
          "concat('k', CAST(n % 3000 AS STRING)) AS url_key",
          "concat('http://h', CAST((n % 3000) % 7 AS STRING), '.ir/p', " +
            "CAST(n % 3000 AS STRING)) AS url",
          "concat('h', CAST((n % 3000) % 7 AS STRING), '.ir') AS host",
          "CAST(n % 97 AS DOUBLE) AS priority",
          "CAST(n % 4 AS INT) AS attempt",
          "CAST(n % 5 AS INT) AS discovered_round")
        .as[graft.model.FrontierEntry](org.apache.spark.sql.Encoders.product)
      val (kept, cut, caches) = graft.frontier.FrontierRound.capByPriority(s, entries, 500L)
      // materialized here so the cut's caches can be released
      val out = kept.withColumn("kept", lit(true))
        .union(cut.withColumn("kept", lit(false)))
        .localCheckpoint(true)
      caches.foreach(_.unpersist(false))
      out
    }),

    "redirect_resolve" -> ((s, dir) => {
      // redirect-chain resolution (Redirects.resolve, pointer doubling,
      // rounds=3 → 8-hop budget) over a synthetic redirect graph: chain
      // groups of ≤7 hops (sparse orderkeys fragment them — more length
      // variety, identically on both sides) + planted 3-cycles. Oracled
      // by a DuckDB recursive CTE walking the same ≤8 steps
      val edges = t(s, dir, "orders").filter(col("o_orderkey") < 4000)
        .select(col("o_orderkey").cast("long").as("n"))
        .selectExpr(
          """CASE WHEN n % 10 <= 6 THEN
               concat('http://r.ir/g', CAST(n DIV 10 AS STRING), '/p',
                 CAST(n % 10 AS STRING))
             ELSE
               concat('http://r.ir/cyc', CAST(n DIV 10 AS STRING), '/',
                 CAST(n % 10 - 7 AS STRING))
             END AS src""",
          """CASE WHEN n % 10 <= 6 THEN
               concat('http://r.ir/g', CAST(n DIV 10 AS STRING), '/p',
                 CAST(n % 10 + 1 AS STRING))
             ELSE
               concat('http://r.ir/cyc', CAST(n DIV 10 AS STRING), '/',
                 CAST((n % 10 - 6) % 3 AS STRING))
             END AS dst""")
      graft.frontier.Redirects.resolve(edges, rounds = 3, "src", "dst")
    }),

    "sitemap_parse" -> ((s, dir) => {
      // sitemap source (Sitemaps.parseBlobs): SQL-constructed XML blobs —
      // every 5th is a sitemapindex (1 child row), the rest urlsets with
      // an entity-escaped loc + lastmod + priority entry, a bare-loc
      // entry, and a loc-less entry the parser must SKIP. The real
      // HtmlDom-based parser runs; the oracle knows every row
      // analytically
      val blobs = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").cast("long").as("n"))
        .selectExpr(
          "concat('https://s', CAST(n % 9 AS STRING), '.ir/sitemap', " +
            "CAST(n AS STRING), '.xml') AS url",
          """CAST(CASE WHEN n % 5 = 0 THEN
               concat('<?xml version="1.0"?><sitemapindex>',
                 '<sitemap><loc>https://s', CAST(n % 9 AS STRING),
                 '.ir/sitemap-child-', CAST(n AS STRING),
                 '.xml.gz</loc></sitemap></sitemapindex>')
             ELSE
               concat('<?xml version="1.0" encoding="UTF-8"?>',
                 '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
                 '<url><loc>https://s', CAST(n % 9 AS STRING), '.ir/p?a=',
                 CAST(n AS STRING), '&amp;b=2</loc><lastmod>2026-0',
                 CAST(1 + n % 9 AS STRING), '-15</lastmod><priority>0.',
                 CAST(n % 10 AS STRING), '</priority></url>',
                 '<url><loc>https://s', CAST(n % 9 AS STRING), '.ir/plain',
                 CAST(n AS STRING), '</loc></url>',
                 '<url><lastmod>skip-me</lastmod></url>',
                 '</urlset>')
             END AS BINARY) AS body""")
      graft.sources.Sitemaps.parseBlobs(s, blobs).toDF()
        .select(col("sitemap_url"), col("kind"), col("loc"),
          col("lastmod"), col("changefreq"), col("priority"))
    }),

    "w6_politeness_schedule" -> ((s, dir) => {
      // the scheduling kernel (W6) over a neutral table: per-host (event
      // type) rank by priority (value desc), budget 5, slot → delay
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      t(s, dir, "events").withColumn("slot", row_number().over(w))
        .filter(col("slot") <= 5)
        .select(col("event_type"), col("event_id"), col("slot"),
          ((col("slot") - 1) * 1000L).as("scheduled_delay_ms"))
    }),

    // ---- joins & set ops (SURVEY §2.4) ----
    "j1_anti_seen" -> ((s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))),

    "j2_semi" -> ((s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))),

    "j3_memoize_lookup" -> ((s, dir) => t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"), "left")
      .select(col("o_orderkey"),
        coalesce(col("c_name"), lit("missing")).as("cust_name"))),

    "j4_union_distinct" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "error").select(col("user_id"))
        .union(e.filter(col("event_type") === "signup").select(col("user_id")))
        .distinct()
    }),

    "j5_split_have_missing" -> ((s, dir) => t(s, dir, "customer")
      .join(t(s, dir, "orders").groupBy(col("o_custkey")).agg(count(lit(1)).as("n")),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"),
        when(col("n").isNull, lit("need_fetch")).otherwise(lit("have")).as("split"))),

    "j7_upsert" -> ((s, dir) => {
      // MERGE-by-key (fix_id_mapping-style id sync): every 7th customer row
      // is "fixed" and replaces its existing version; the rest survive
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val updates = base.filter(pmod(col("c_custkey"), lit(7)) === 0)
        .select(col("c_custkey"),
          concat(lit("FIXED-"), col("c_name")).as("c_name"),
          lit("UPDATED").as("c_mktsegment"))
      graft.ops.Merge.upsertByKey(base, updates, "c_custkey")
    }),

    "j6_retry_requeue" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val failed = e.filter(col("event_type") === "error")
        .select(col("event_id"), lit(1).as("attempt"))
      val fresh = e.filter(col("event_type") === "click")
        .select(col("event_id"), lit(0).as("attempt"))
      fresh.union(failed).filter(col("attempt") <= 1)
    }),

    // ---- filters / projections (SURVEY §2.2, §2.7) ----
    "f1_error_filter" -> ((s, dir) => t(s, dir, "documents")
      .filter(!col("text").contains("join"))
      .select(col("doc_id"), col("lang"))),

    "f3_token_budget" -> ((s, dir) => t(s, dir, "documents")
      .filter(TextStats.tokenCountWs(col("text")) <= 50)
      .select(col("doc_id"), TextStats.tokenCountWs(col("text")).as("n_tokens"))),

    "p5_url_construct" -> ((s, dir) => t(s, dir, "orders")
      .select(col("o_orderkey"),
        concat(lit("https://h"), pmod(col("o_custkey"), lit(8)),
          lit(".example.ir/opinions/Detail?IdeaId="), col("o_orderkey")).as("url"))),

    "p7_regex_extract" -> ((s, dir) => t(s, dir, "orders")
      .select(col("o_orderkey"),
        concat(lit("<a href=\"/Detail?IdeaId="), col("o_orderkey"), lit("\">x</a>")).as("html"))
      .select(col("o_orderkey"),
        regexp_extract(col("html"), "IdeaId=(\\d+)", 1).as("idea_id"))),

    "p_json_props" -> ((s, dir) => t(s, dir, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_value"))),

    "extract_invariant" -> ((s, dir) => qExtract(s, dir)),

    "jalali_convert" -> ((s, dir) => {
      import s.implicits._
      // oracled: DuckDB has no Jalali chronology, but the conversion is pure
      // 33-year-cycle integer arithmetic and the day count maps linearly to
      // epoch days (offset 719528, validated exhaustively over years
      // 1300-1500), so the oracle SQL transliterates the arithmetic and
      // finishes with DATE '1970-01-01' + (days - 719528)
      // repartitioned to the session's parallelism: the CPU-bound per-row
      // map otherwise runs on the scan's task count (ONE task for the
      // single small parquet file — profiled as the whole query's wall)
      scalarMapInput(s, t(s, dir, "orders").select(col("o_orderkey"))).as[Long]
        .map { k =>
          val y = 1390 + (k % 15).toInt
          val m = 1 + (k % 12).toInt
          val d = 1 + (k % 28).toInt
          // y is 4-digit, m/d zero-padded to 2 — the former f"%04d/%02d/%02d"
          // without a java.util.Formatter per row
          val mm = if (m < 10) "0" + m else m.toString
          val dd = if (d < 10) "0" + d else d.toString
          val (sh, gr) = JalaliDate.processDate(s"$y/$mm/$dd")
          (k, sh, gr)
        }.toDF("o_orderkey", "shamsi", "gregorian")
    }),

    "url_canonicalize" -> ((s, dir) => {
      import s.implicits._
      // oracle: the synthetic raw URL is deterministic, so DuckDB can
      // string-construct the expected canonical form + sha256 key directly
      // repartitioned like jalali_convert: sha256 + canonicalize per row is
      // CPU-bound work that must not run on the scan's single file task
      scalarMapInput(s, t(s, dir, "orders").select(col("o_orderkey"))).as[Long]
        .map { k =>
          val u = s"HTTPS://H${k % 8}.Example.IR:443/a/./b/../Detail?z=$k&IdeaId=$k#frag"
          (k, Urls.canonicalize(u), Urls.urlKey(u))
        }.toDF("o_orderkey", "canonical_url", "url_key")
    }),

    // ---- dedup suite ----
    "dedup_exact_groups" -> ((s, dir) =>
      Dedup.exactDupGroups(doubledDocs(s, dir), "text", "doc_id")),

    "dedup_keep_first" -> ((s, dir) =>
      Dedup.exactKeepFirst(doubledDocs(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 60), "text", "doc_id",
        n = 3, threshold = 0.35)),

    "dedup_minhash_lsh" -> ((s, dir) =>
      // oracled as a recall/containment check: the full LSH pipeline runs,
      // then restricts to the planted exact-duplicate pairs, which LSH MUST
      // all find (identical text ⇒ identical signature ⇒ banding collision,
      // jaccard exactly 1). OpsSpec separately verifies near-dup recall
      // against the exact ngram-jaccard ground truth.
      Dedup.minhashLshPairs(scalarMapInput(s, doubledDocs(s, dir)), "text", "doc_id",
        numHashes = 64, bands = 16, jaccardThreshold = 0.8)
        .filter(col("id_b") === col("id_a") + 100000L && col("id_a") < 100000L)),

    "dedup_simhash" -> ((s, dir) =>
      // oracled the same way: planted exact duplicates collide at hamming 0
      Dedup.simhashPairs(scalarMapInput(s, doubledDocs(s, dir)), "text", "doc_id", maxHamming = 2)
        .filter(col("id_b") === col("id_a") + 100000L && col("id_a") < 100000L)),

    "dedup_incremental_lsh" -> ((s, dir) => {
      // incremental ingest path: the base corpus is band-INDEXED once, then
      // a delta batch (planted +100000 copies) probes the index without the
      // corpus being re-shingled. Oracled like dedup_minhash_lsh: restricted
      // to the planted pairs, which the probe must all find at jaccard 1.
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val delta = base.withColumn("doc_id", col("doc_id") + 100000L)
      val index = Dedup.lshBandIndex(base, "text", "doc_id", numHashes = 64, bands = 16)
      // knownDeltaDocs: the fixture's delta is one copy of the documents
      // table (≤ 100k rows at any SF the driver runs) — the caller-supplied
      // bound removes the gate's per-call delta count job; gate-only, the
      // pair output is identical on either join route
      Dedup.minhashLshPairsIncremental(base, index, delta, "text", "doc_id",
        numHashes = 64, bands = 16, jaccardThreshold = 0.8,
        knownDeltaDocs = Some(100000L))
        .filter(col("id_b") === col("id_a") + 100000L && col("id_a") < 100000L)
    }),

    "dedup_cluster_assign" -> ((s, dir) => {
      // transitive near-dup clustering over a deterministic pair graph:
      // every doc pairs with its +100000 copy; even docs chain one further
      // (+200000), so convergence needs real label propagation
      val d = t(s, dir, "documents").select(col("doc_id"))
      val p1 = d.select(col("doc_id").as("id_a"), (col("doc_id") + 100000L).as("id_b"))
      val p2 = d.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 100000L).as("id_a"), (col("doc_id") + 200000L).as("id_b"))
      Dedup.clusterAssign(p1.union(p2)).select(col("id"), col("cluster_rep"))
    }),

    "pipeline_curate" -> ((s, dir) => {
      // the composed curation pipeline, oracle-exactly: the corpus is
      // CONSTRUCTED (40 md5-derived tokens per doc — byte-identical
      // construction in the DuckDB oracle, and random enough that distinct
      // docs share no word-shingles; the real `documents` table can't
      // oracle this because it contains genuine data-dependent near-dups
      // whose transitive clusters SQL can't reproduce). Planted: exact
      // copies at +10^7 (killed by keep-first) and near copies at +2*10^7
      // (text ⊕ text: word-3-shingle jaccard exactly 38/40 = 0.95 — LSH
      // collision certain at 16 bands — killed by the cluster collapse).
      // Survivors = the originals, recomputed stage-by-stage in SQL.
      val ids = scalarMapInput(s, t(s, dir, "orders")
        .filter(col("o_orderkey") < 4000)
        .select(col("o_orderkey").cast("long").as("doc_id")))
      // corpus materialized ONCE via the typed forest map (see forestDf):
      // copies derive from the checkpointed text, so construction runs
      // exactly once per base row
      val d = forestDf(s, ids, 0L, "-").localCheckpoint(true)
      val exactCopies = d.select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val nearCopies = d.select((col("doc_id") + 20000000L).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text"))
      Curation.curate(d.union(exactCopies).union(nearCopies), "doc_id", "text",
        Curation.Config(langs = Set("latin"), minTokens = 10, maxTokens = 200,
          jaccardThreshold = 0.9))
        .select(col("doc_id"), col("text"), col("lang"), col("n_tokens"))
    }),

    "pipeline_curate_quality" -> ((s, dir) => {
      // the quality-gated pipeline with near-dup DISABLED: every planted
      // bad doc must die via the cheap per-doc gates alone, so a broken
      // gate shows up as extra survivor rows (LSH can't silently rescue
      // the result). Planted: exact copies (+1e7, die via keep-first —
      // identical text passes the same gates), doubled text (+2e7,
      // dup_3gram_frac = 1 - 40/78 ≈ 0.487 > 0.4), one-token spam (+6e7,
      // top_word_frac = 1.0 > 0.9), duplicated-line docs (+7e7,
      // dup_line_frac = 0.5 > 0.4). Survivors = the originals.
      val ids = scalarMapInput(s, t(s, dir, "orders")
        .filter(col("o_orderkey") < 4000)
        .select(col("o_orderkey").cast("long").as("doc_id")))
      val d = forestDf(s, ids, 0L, "-").localCheckpoint(true)
      val exactCopies = d.select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val doubled = d.select((col("doc_id") + 20000000L).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text"))
      val spam = d.select((col("doc_id") + 60000000L).as("doc_id"),
        array_join(array_repeat(substring(col("text"), 1, 8), 40), " ").as("text"))
      // first 20 tokens (8 chars + separator each) twice, newline-joined
      val lineDup = d.select((col("doc_id") + 70000000L).as("doc_id"),
        concat(substring(col("text"), 1, 179), lit("\n"),
          substring(col("text"), 1, 179)).as("text"))
      Curation.curate(
        d.union(exactCopies).union(doubled).union(spam).union(lineDup),
        "doc_id", "text",
        Curation.Config(langs = Set("latin"), minTokens = 10, maxTokens = 200,
          nearDup = false, maxDupLineFrac = 0.4, maxTopWordFrac = 0.9,
          maxDup3gramFrac = 0.4))
        .select(col("doc_id"), col("text"), col("lang"), col("n_tokens"))
    }),

    "pipeline_curate_delta" -> ((s, dir) => {
      // incremental curation, oracle-exactly: corpus = the same constructed
      // md5-token docs as pipeline_curate; delta = exact copies (+1e7 — die
      // via the content-hash anti-join), near copies (+2e7, text⊕text — die
      // via the persisted-index probe + cluster collapse), and FRESH docs
      // (+3e7, '-f-' token seed — unique, survive). The corpus itself is
      // never re-curated: only its dedupBase + band index are consumed.
      // Survivors = the fresh docs, reconstructed stage-exactly in SQL.
      val ids = scalarMapInput(s, t(s, dir, "orders")
        .filter(col("o_orderkey") < 4000)
        .select(col("o_orderkey").cast("long").as("doc_id")))
      val d = forestDf(s, ids, 0L, "-").localCheckpoint(true)
      val cfgC = Curation.Config(langs = Set("latin"), minTokens = 10,
        maxTokens = 200, jaccardThreshold = 0.9)
      // the corpus chain (dedupBase -> band index) and the delta batch
      // are independent constructions off the same checkpointed d — run
      // them as concurrent jobs (guide-style overlap; the former serial
      // shape paid three sequential checkpoint barriers)
      val exactCopies = d.select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val nearCopies = d.select((col("doc_id") + 20000000L).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text"))
      val fresh = forestDf(s, ids, 30000000L, "-f-")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fCorpus = Future {
        val corpusExact = Curation.dedupBase(d, "doc_id", "text", cfgC)
          .localCheckpoint(true)
        val index = Dedup.lshBandIndex(corpusExact, "text", "doc_id",
          cfgC.minhashHashes, cfgC.minhashBands, cfgC.shingleSize)
          .localCheckpoint(true)
        (corpusExact, index)
      }
      val fDelta = Future {
        exactCopies.union(nearCopies).union(fresh).localCheckpoint(true)
      }
      val (corpusExact, index) = Await.result(fCorpus, Duration.Inf)
      val delta = Await.result(fDelta, Duration.Inf)
      // deltaDocsBound: the delta is three copies of the ≤ 4000-id fixture
      // (≤ 12000 rows at any SF) — the bound removes the fold's per-call
      // delta count job; gate-only, survivors identical on either route
      Curation.curateDelta(corpusExact, index, delta, "doc_id", "text", cfgC,
        deltaDocsBound = Some(100000L))
        .select(col("doc_id"), col("text"), col("lang"), col("n_tokens"))
    }),

    "pipeline_curate_stream" -> ((s, dir) => {
      // the streaming-curation store driven batch-by-batch with
      // deterministic batch ids AND compaction exercised (threshold 2 →
      // batch 2 folds against a compact_1 generation): survivors of the
      // three-batch fold == the batch-curation survivor set, reconstructed
      // stage-exactly in SQL. Batch 0 = unique corpus (survives); batch 1 =
      // exact copies (+1e7, die) ∪ near copies (+2e7, die via the index
      // probe) ∪ fresh '-f-' docs (+3e7, survive); batch 2 = exact copies
      // of batch 1's fresh (+4e7, die against the appended base) ∪ fresh
      // '-g-' docs (+5e7, survive).
      val ids = scalarMapInput(s, t(s, dir, "orders")
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").cast("long").as("doc_id")))
      val b0 = forestDf(s, ids, 0L, "-").localCheckpoint(true)
      val fresh = forestDf(s, ids, 30000000L, "-f-").localCheckpoint(true)
      val b1 = b0.select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
        .union(b0.select((col("doc_id") + 20000000L).as("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text")))
        .union(fresh)
      val b2 = fresh
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
        .union(forestDf(s, ids, 50000000L, "-g-"))
      val cfgC = Curation.Config(langs = Set("latin"), minTokens = 10,
        maxTokens = 200, jaccardThreshold = 0.9)
      val store = s"${System.getProperty("java.io.tmpdir")}/graft_curate_stream"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(store), true) // re-runnable
      // thread each fold's observed count into the next fold's broadcast
      // gate (the streamingCurate steady-batch contract, ×4 headroom) —
      // the gate row exercises the count-job-free path end-to-end
      Seq(b0, b1, b2).zipWithIndex.foldLeft(-1L) { case (prev, (b, i)) =>
        graft.streaming.StreamOps.foldCurateBatch(b, i.toLong, store, cfgC,
          compactThreshold = 2,
          deltaDocsBound = graft.streaming.StreamOps.nextGateBound(prev))
      }
      graft.streaming.StreamOps.readCuratedSurvivors(s, store)
        .select(col("doc_id"), col("text"), col("lang"), col("n_tokens"))
    }),

    // ---- similarity search ----
    "ann_brute_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 5)
        .select(col("qid"), col("neighbor_id"), col("rank"))
    }),

    "ann_ivf_topk" -> ((s, dir) => {
      // exhaustive-probe configuration (nprobe == nlist): the IVF machinery
      // (k-means train, posting-list assignment, probe fan-out, rank) runs
      // in full but the result is EXACT — hence DuckDB-oracle-able; the
      // approximate regime (nprobe < nlist) is recall-tested in OpsSpec
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopK(emb, emb.filter(col("vec_id") < 5), k = 5,
        nlist = 8, nprobe = 8, iters = 3)
        .select(col("qid"), col("neighbor_id"), col("rank"))
    }),

    "dedup_embedding_cosine" -> ((s, dir) => {
      // planted-duplicate recall: every vector is doubled (vec_id+100000);
      // LSH candidates + exact >=0.99 verify must return exactly the
      // planted identical pairs (random 64-dim pairs never reach 0.99)
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val doubled = emb.union(
        emb.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      Dedup.embeddingNearDupPairs(doubled, minCosine = 0.99)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }),

    "ann_ivf_clustered" -> ((s, dir) => {
      // the at-scale IVF layout: corpus written partitioned by cid once,
      // search scans only probed partitions (partition pruning — the plan
      // shows PartitionFilters; OpsSpec asserts it). Exhaustive probe
      // (nprobe == nlist) is EXACT → same oracle as ann_ivf_topk.
      val emb = t(s, dir, "embeddings")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_clustered"
      val centroids = Ann.writeClustered(emb, path, nlist = 8, iters = 3)
      Ann.ivfTopKClustered(s, path, centroids, emb.filter(col("vec_id") < 5),
        k = 5, nprobe = 8)
        .select(col("qid"), col("neighbor_id"), col("rank"))
    }),

    "tokenize_vocab" -> ((s, dir) =>
      Tokenize.buildVocab(t(s, dir, "documents"), "text", vocabSize = 30)),

    "tokenize_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = Tokenize.buildVocab(docs, "text", vocabSize = 30)
      // gate projection only: the operator API stays array<int>-typed, but the
      // driver's pandas comparator cannot hash raw arrays, so the QUERY emits
      // the canonical space-joined string (mirrored by array_to_string in SQL)
      Tokenize.encodeWithStats(docs, "text", "doc_id", vocab)
        .withColumn("token_ids", array_join(col("token_ids"), " "))
    }),

    "tokenize_chunk" -> ((s, dir) => {
      // fixed-length training windows over the encoded corpus: seqLen 16,
      // overlap 4 (stride 12), tail chunks kept at >= 8 ids
      val docs = t(s, dir, "documents")
      val vocab = Tokenize.buildVocab(docs, "text", vocabSize = 30)
      val enc = Tokenize.encode(docs, "text", "doc_id", vocab)
      Tokenize.chunkForTraining(enc, "doc_id", seqLen = 16, overlap = 4, minLen = 8)
        .withColumn("token_ids", array_join(col("token_ids"), " "))
    }),

    "tokenize_pack" -> ((s, dir) => {
      // GPT-style packing: the encoded corpus concatenated in doc_id order
      // (eos 99 after each doc — outside the 1..30 vocab and the 0 unk),
      // cut into 16-id training sequences, tail kept at >= 8
      val docs = t(s, dir, "documents")
      val vocab = Tokenize.buildVocab(docs, "text", vocabSize = 30)
      val enc = Tokenize.encode(docs, "text", "doc_id", vocab)
      Tokenize.packSequences(enc, "doc_id", seqLen = 16, eosId = Some(99),
          minLen = 8, prefixBuckets = 8)
        .withColumn("token_ids", array_join(col("token_ids"), " "))
    }),

    "dedup_paragraph" -> ((s, dir) => {
      // corpus-wide line dedup over a deterministic multi-line rendering of
      // documents (every 8th space → newline): planted exact-copy docs lose
      // every line and vanish; shared tails dedup to their first holder
      val d = t(s, dir, "documents").select(col("doc_id"),
        regexp_replace(col("text"), "((\\S+ ){7}\\S+) ", "$1\n").as("text"))
      Dedup.paragraphDedup(d, "text", "doc_id")
    }),

    "pipeline_training_data" -> ((s, dir) => {
      // the full path from raw corpus to training sequences, oracle-exact:
      // constructed docs (+ planted exact/near copies that curation must
      // kill, + a shared 10-token boilerplate tail on even ids that
      // SURVIVES curation — jaccard vs original 0.96 > 0.9 for its near
      // copy, so the copy still dies — and then loses everywhere but its
      // first holder at span dedup) → curate → exact-substring dedup →
      // vocab → encode → pack into 64-id sequences. The oracle recomputes
      // curation analytically (the adjudicated pipeline_curate planting)
      // and the dedup/tokenize/pack stages via the generic SQL chains.
      val ids = scalarMapInput(s, t(s, dir, "orders")
        .filter(col("o_orderkey") < 4000)
        .select(col("o_orderkey").cast("long").as("doc_id")))
      val suffix = (0 until 10).map(j => s"boiler$j").mkString(" ")
      val d = forestDf(s, ids, 0L, "-").localCheckpoint(true)
        .withColumn("text", when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" " + suffix))).otherwise(col("text")))
      val exactCopies = d.select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val nearCopies = d.select((col("doc_id") + 20000000L).as("doc_id"),
        concat(col("text"), lit(" "), col("text")).as("text"))
      val survivors = Curation.curate(d.union(exactCopies).union(nearCopies),
        "doc_id", "text",
        Curation.Config(langs = Set("latin"), minTokens = 10, maxTokens = 200,
          jaccardThreshold = 0.9))
        .select(col("doc_id"), col("text"))
      val deduped = Dedup.spanDedup(survivors, "text", "doc_id", k = 8)
        .select(col("doc_id"), col("text"))
      val vocab = Tokenize.buildVocab(deduped, "text", vocabSize = 30)
      val enc = Tokenize.encode(deduped, "text", "doc_id", vocab)
      Tokenize.packSequences(enc, "doc_id", seqLen = 64, eosId = Some(99),
          minLen = 8, prefixBuckets = 8)
        .withColumn("token_ids", array_join(col("token_ids"), " "))
    }),

    "bpe_pair_counts" -> ((s, dir) =>
      // BPE training's first iteration: adjacent code-point pair counts
      // weighted by word frequency, top 20 by (count desc, pair asc) —
      // a fully deterministic slice of the argmax the trainer loops on
      Tokenize.bpePairCounts(t(s, dir, "documents"), "text")
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .limit(20)),

    "dedup_span" -> ((s, dir) =>
      // exact-substring dedup: every repeated 8-word span removed at its
      // non-first occurrences; planted exact-copy docs are fully covered
      // and vanish, genuinely shared long spans are excised in place
      Dedup.spanDedup(scalarMapInput(s, t(s, dir, "documents")), "text", "doc_id", k = 8)),

    "ann_lsh_pairs" -> ((s, dir) =>
      // fully oracled since the hyperplane derivation moved to the
      // engine-portable md5 unit draw (Sketches.hyperplanes): DuckDB
      // re-derives the planes, signatures, buckets and cosine verify
      // bit-exactly. OpsSpec additionally verifies recall vs brute force.
      Ann.lshCandidatePairs(t(s, dir, "embeddings"),
        bits = 8, tables = 6, dim = 64, minCosine = 0.2)),

    // ---- export stages (K4/K5/K6) ----
    "k4_csv_roundtrip" -> ((s, dir) => {
      // a REAL csv write + read-back (not a parquet stand-in): the oracle
      // compares the round-tripped rows against the source table
      val src = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_k4_csv"
      graft.sinks.Exports.writeCsv(src, path)
      s.read.schema(src.schema).option("header", "true").csv(path)
    }),

    "k5_sections" -> ((s, dir) => graft.sinks.Exports.sections(
      t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit("##"), col("lang"), lit("##"), col("source"))
          .as("content")),
      "content", "doc_id")),

    "k5_render" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"),
        graft.sinks.Exports.renderHtmlDoc(col("doc_id"),
          concat(lit("Doc "), col("doc_id")),
          concat(col("text"), lit("##"), col("lang"))).as("html"))),

    "k6_chunk_assign" -> ((s, dir) => graft.sinks.Exports.chunkAssign(
      t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
      "o_custkey", "o_orderkey", chunkSize = 7)
      .select(col("o_orderkey"), col("o_custkey"), col("chunk"))),

    // ---- scored retrieval (the reference's primary read path) ----
    "search_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq((1L, "spark shuffle"), (2L, "hash join table"),
        (3L, "window agg data"), (4L, "vector")).toDF("query_id", "qtext")
      Search.bm25TopK(searchDocs3(s, dir), searchFields,
        queries, k = 10, minScore = 1.0)
    }),

    "search_batch_stats" -> ((s, dir) => {
      import s.implicits._
      // the batch-search stream's summary envelope (total hits over the
      // min_score floor, yielded rows after the max_results cap, max score)
      // over the same constructed multi-field corpus as search_bm25_topk
      val queries = Seq((1L, "spark shuffle"), (2L, "hash join table"),
        (3L, "window agg data"), (4L, "vector")).toDF("query_id", "qtext")
      Search.bm25QueryStats(searchDocs3(s, dir), searchFields,
        queries, maxResults = 5, minScore = 1.0)
    }),

    "search_bm25_phrase" -> ((s, dir) => {
      import s.implicits._
      // the reference's ACTUAL read shape: one match_phrase clause per
      // (phrase, field), minimum_should_match 1, per-query min_score tier
      // by phrase count (1 phrase → 1.5, 3 → 2.5, 6 → 2.0 — the caller's
      // elif ordering). Two-word phrases make the consecutive-term gate
      // observable: docs carrying both words non-adjacent score zero here
      // but would score under bag-of-terms.
      val phrases = Seq(
        (1L, "hash join"),
        (2L, "window agg"), (2L, "fast spark"), (2L, "big table"),
        (3L, "data query"), (3L, "slow row"), (3L, "sort column"),
        (3L, "merge batch"), (3L, "stream group"), (3L, "key scan"),
        (4L, "vector")).toDF("query_id", "phrase")
      Search.bm25PhraseTopK(searchDocs3(s, dir), searchFields, phrases, k = 10)
    }),

    "search_bm25_indexed" -> ((s, dir) => {
      import s.implicits._
      // persisted-stats probe: build the term-bucketed index once, then
      // answer the SAME queries as search_bm25_topk without re-tokenizing
      // the corpus (tf read under a tb partition filter) — same oracle
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_index"
      Search.bm25Index(searchDocs3(s, dir), searchFields, path,
        termBuckets = 16, withText = false)
      val queries = Seq((1L, "spark shuffle"), (2L, "hash join table"),
        (3L, "window agg data"), (4L, "vector")).toDF("query_id", "qtext")
      Search.bm25TopKIndexed(s, path, queries, searchFields,
        k = 10, minScore = 1.0)
    }),

    "search_bm25_index_append" -> ((s, dir) => {
      import s.implicits._
      // the daily-ingest path at the gate: index the first half of the
      // corpus, APPEND the second half (tf into term buckets, meta from
      // running sums — no rebuild), probe — must equal the full-corpus
      // oracle (same SQL as search_bm25_topk)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_inc"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(path), true) // append ⇒ re-runnable only from clean
      val docs3 = searchDocs3(s, dir)
      Search.bm25Index(docs3.filter(col("doc_id") < 250), searchFields, path,
        termBuckets = 16, withText = false)
      Search.bm25IndexAppend(docs3.filter(col("doc_id") >= 250), searchFields,
        path, withText = false)
      val queries = Seq((1L, "spark shuffle"), (2L, "hash join table"),
        (3L, "window agg data"), (4L, "vector")).toDF("query_id", "qtext")
      Search.bm25TopKIndexed(s, path, queries, searchFields,
        k = 10, minScore = 1.0)
    }),

    "search_bm25_phrase_indexed" -> ((s, dir) => {
      import s.implicits._
      // the at-scale phrase path: same phrases/tiers as search_bm25_phrase
      // (same oracle), but the match_phrase gate runs over CANDIDATES'
      // stored canonical text from a withText index, never the corpus scan
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_bm25_index_t"
      Search.bm25Index(searchDocs3(s, dir), searchFields, path,
        termBuckets = 16, withText = true)
      val phrases = Seq(
        (1L, "hash join"),
        (2L, "window agg"), (2L, "fast spark"), (2L, "big table"),
        (3L, "data query"), (3L, "slow row"), (3L, "sort column"),
        (3L, "merge batch"), (3L, "stream group"), (3L, "key scan"),
        (4L, "vector")).toDF("query_id", "phrase")
      Search.bm25PhraseTopKIndexed(s, path, phrases, searchFields, k = 10)
    }),

    "multimodal_frames" -> ((s, dir) => {
      // SQL-expressible media fixture (doc_id-arithmetic metadata, sha256
      // payload — DuckDB reproduces every column exactly) so the operator
      // under oracle is sampleFrames' declarative posexplode(sequence):
      // durations are 700ms multiples, covering both the non-multiple case
      // and the exact-multiple EOF boundary (no frame AT t = duration)
      val media = t(s, dir, "documents").select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
        sha2(concat(col("doc_id").cast("string"), lit("-payload")), 256)
          .cast("binary").as("payload"),
        when(pmod(col("doc_id"), lit(3)) === 2,
          (pmod(col("doc_id"), lit(20)) + 1) * 700L)
          .otherwise(lit(0L)).as("duration_ms"))
      Multimodal.sampleFrames(media, everyMs = 1000L)
        .select(col("doc_id"), col("frame_idx"), col("frame_ts_ms"),
          col("frame_payload").cast("string").as("frame_payload"))
    }),

    "multimodal_image_meta" -> ((s, dir) => {
      // REAL byte parse under oracle: payloads are structurally-valid
      // PNG / GIF89a / JPEG(JFIF+COM+SOF0) headers CONSTRUCTED in SQL
      // from doc_id arithmetic; the oracle computes the dims analytically
      // from the same arithmetic and never touches bytes — so the unit
      // under test is imageMeta's offsets/endianness/segment walk (a
      // mirrored construction+parse bug can't hide: OpsSpec parses
      // JDK-ImageIO-encoded bytes with the same code). The JPEG payload
      // deliberately carries APP0 and COM segments before SOF0 so the
      // gate exercises the bounded segment walk, not just offset math.
      val d = t(s, dir, "documents").select(col("doc_id"))
      val w = (pmod(col("doc_id"), lit(300)) + lit(16)).cast("int")
      val h = (pmod(col("doc_id"), lit(200)) + lit(16)).cast("int")
      val wHex4 = lpad(hex(w), 4, "0") // 2-byte big-endian
      val hHex4 = lpad(hex(h), 4, "0")
      val wHex8 = lpad(hex(w), 8, "0") // 4-byte big-endian
      val hHex8 = lpad(hex(h), 8, "0")
      val leW = concat(substring(wHex4, 3, 2), substring(wHex4, 1, 2))
      val leH = concat(substring(hHex4, 3, 2), substring(hHex4, 1, 2))
      val png = concat(lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        wHex8, hHex8, lit("0806000000" + "DEADBEEF"))
      val gif = concat(lit("474946383961"), leW, leH, lit("F70000"))
      val jpeg = concat(
        lit("FFD8" + // SOI
          "FFE0" + "0010" + "4A46494600" + "0101" + "00" + "0001" + "0001" +
          "00" + "00" + // APP0/JFIF, length 16
          "FFFE" + "0004" + "ABCD" + // COM, length 4 — a skip segment
          "FFC0" + "0011" + "08"), // SOF0, length 17, precision 8
        hHex4, wHex4, lit("03" + "012200" + "021101" + "031101" + "FFD9"))
      val payload = when(pmod(col("doc_id"), lit(3)) === 0, png)
        .when(pmod(col("doc_id"), lit(3)) === 1, gif)
        .otherwise(jpeg)
      Multimodal.imageMeta(d.select(col("doc_id"), unhex(payload).as("payload")))
        .select(col("doc_id"), col("img_format"), col("img_width"),
          col("img_height"))
    }),

    "multimodal_audio_meta" -> ((s, dir) => {
      // REAL RIFF chunk walk under oracle: WAV headers constructed in SQL
      // with doc_id-arithmetic channels/rate/bits/frame-count; the data
      // chunk declares its true size but the fixture truncates the body —
      // deliberately: an at-scale metadata pass reads only a header-sized
      // prefix of each blob, and audioMeta never dereferences sample
      // bytes. Every 7th row is junk to exercise the unknown path. The
      // oracle computes every field analytically, touching no bytes.
      def le(v: Column, bytes: Int): Column = {
        val hx = lpad(hex(v), bytes * 2, "0")
        concat((bytes to 1 by -1).map(i => substring(hx, i * 2 - 1, 2)): _*)
      }
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ch = (pmod(col("doc_id"), lit(2)) + 1).cast("int")
      val bits = ((pmod(col("doc_id"), lit(3)) + 1) * 8).cast("int")
      val rate = ((pmod(col("doc_id"), lit(4)) + 1) * 8000).cast("int")
      val align = ch * bits / lit(8)
      val frames = ((pmod(col("doc_id"), lit(3000)) + 1) * 10).cast("int")
      val dsz = frames * align
      val wav = concat(
        lit("52494646"), le(dsz + 36, 4), lit("57415645"), // RIFF size WAVE
        lit("666D7420" + "10000000" + "0100"), // "fmt " len=16 tag=PCM
        le(ch, 2), le(rate, 4), le(rate * align, 4), le(align, 2), le(bits, 2),
        lit("64617461"), le(dsz, 4)) // "data" + declared size, body truncated
      val payload = when(pmod(col("doc_id"), lit(7)) === 0,
        lit("0102030405060708090A0B0C")).otherwise(wav)
      Multimodal.audioMeta(d.select(col("doc_id"), unhex(payload).as("payload")))
        .select(col("doc_id"), col("audio_format"), col("audio_channels"),
          col("audio_sample_rate"), col("audio_bits"), col("audio_duration_ms"))
    }),

    "multimodal_video_meta" -> ((s, dir) => {
      // REAL ISO-BMFF box walk under oracle: structurally-valid MP4 streams
      // CONSTRUCTED in SQL from doc_id arithmetic — ftyp, then an mdat
      // BEFORE moov (the non-faststart layout, exercising the skip), every
      // 5th row with an extended (64-bit) mdat size, moov carrying
      // mvhd (v0/v1 alternating by parity) + an AUDIO trak (tkhd width 0,
      // which the walk must pass over) + the video trak. Every 7th row is
      // junk → unknown. The oracle computes all fields analytically from
      // the same arithmetic and never touches bytes.
      val d = t(s, dir, "documents").select(col("doc_id"))
      val w = (pmod(col("doc_id"), lit(300)) + lit(16)).cast("int")
      val h = (pmod(col("doc_id"), lit(200)) + lit(16)).cast("int")
      val v1 = pmod(col("doc_id"), lit(2)) === 1
      val ts = when(v1, lit(600)).otherwise(lit(1000))
      val dur = ((pmod(col("doc_id"), lit(50)) + 1) * lit(500)).cast("int")
      def be(v: Column, bytes: Int): Column = lpad(hex(v), bytes * 2, "0")
      val ftyp = lit("00000010" + "66747970" + "69736F6D" + "00000200")
      val mdat = when(pmod(col("doc_id"), lit(5)) === 0,
        // extended size: size32=1, 64-bit largesize=24, 8 junk bytes
        lit("00000001" + "6D646174" + "0000000000000018" + "DEADBEEFDEADBEEF"))
        .otherwise(lit("00000010" + "6D646174" + "DEADBEEFDEADBEEF"))
      val pad80 = "0" * 160 // rate/volume/matrix/predefined tail, zeroed
      val mvhd = when(v1,
        concat(lit("00000078" + "6D766864" + "01000000" + ("0" * 32)),
          be(ts, 4), be(dur, 8), lit(pad80)))
        .otherwise(
          concat(lit("0000006C" + "6D766864" + "00000000" + ("0" * 16)),
            be(ts, 4), be(dur, 4), lit(pad80)))
      val matrix = "00010000" + ("0" * 24) + "00010000" + ("0" * 24) + "40000000"
      def tkhd(wc: Column, hc: Column) = concat(
        lit("0000005C" + "746B6864" + "00000007" + ("0" * 40) +
          ("0" * 16) + ("0" * 16) + matrix),
        be(wc, 2), lit("0000"), be(hc, 2), lit("0000"))
      val trakA = concat(lit("00000064" + "7472616B"), tkhd(lit(0), lit(0)))
      val trakV = concat(lit("00000064" + "7472616B"), tkhd(w, h))
      val moovSize = when(v1, lit("00000148")).otherwise(lit("0000013C"))
      val moov = concat(moovSize, lit("6D6F6F76"), mvhd, trakA, trakV)
      val mp4 = concat(ftyp, mdat, moov)
      val payload = when(pmod(col("doc_id"), lit(7)) === 0,
        lit("0102030405060708090A0B0C0D0E0F10")).otherwise(mp4)
      Multimodal.videoMeta(d.select(col("doc_id"), unhex(payload).as("payload")))
        .select(col("doc_id"), col("video_format"), col("video_width"),
          col("video_height"), col("video_duration_ms"))
    }),

    "multimodal_mp3_meta" -> ((s, dir) => {
      // REAL MPEG frame-header decode under oracle: spec-exact frames
      // constructed in SQL from doc_id arithmetic — MPEG-1/MPEG-2 Layer 3
      // alternating by parity, all 14 bitrate indices, all 3 sample-rate
      // indices, all 4 channel modes, every 3rd row behind an ID3v2 tag
      // whose syncsafe size the parser must skip exactly, every 7th junk,
      // every 11th (mod 11 = 5) CRC-protected and carrying a Xing VBR
      // header at the exact CRC+side-info offset (frame count doc_id%90+1
      // → exact duration + avg bitrate instead of the CBR estimate). The
      // oracle computes every field analytically (bitrate via the classic
      // tables as list literals).
      val d = t(s, dir, "documents").select(col("doc_id"))
      val ver = when(pmod(col("doc_id"), lit(2)) === 0, 3).otherwise(2)
      val brIdx = (pmod(col("doc_id"), lit(14)) + 1).cast("int")
      val srIdx = pmod(col("doc_id"), lit(3)).cast("int")
      val mode = pmod(col("doc_id"), lit(4)).cast("int")
      val id3Size = pmod(col("doc_id"), lit(30)).cast("int") // < 128: last syncsafe byte
      val isXing = pmod(col("doc_id"), lit(11)) === 5
      // side-info length per (version, channel-mode) — where Xing lives,
      // after the 2-byte CRC-16 the protection bit declares
      val sideInfo = when(ver === 3, when(mode === 3, 17).otherwise(32))
        .otherwise(when(mode === 3, 9).otherwise(17))
      val xFrames = (pmod(col("doc_id"), lit(90)) + 1).cast("int")
      val xingFill = concat(lit("BEEF"), repeat(lit("11"), sideInfo),
        lit("58696E67" + "00000001"), lpad(hex(xFrames), 8, "0"),
        repeat(lit("11"), lit(186) - sideInfo)) // total stays 200 bytes
      val fill = when(isXing, xingFill).otherwise(lit("11" * 200))
      val frame = concat(lit("FF"),
        // L3; Xing rows CRC-protected (protection bit 0), others not
        hexByte(shiftleft(ver, 3).bitwiseOR(lit(0xE0))
          .bitwiseOR(when(isXing, 2).otherwise(3))),
        hexByte(shiftleft(brIdx, 4).bitwiseOR(shiftleft(srIdx, 2))),
        hexByte(shiftleft(mode, 6)),
        fill)
      val id3 = concat(lit("494433" + "0300" + "00" + "000000"), hexByte(id3Size),
        repeat(lit("00"), id3Size))
      val payload = when(pmod(col("doc_id"), lit(7)) === 0, lit("ABCD"))
        .otherwise(concat(
          when(pmod(col("doc_id"), lit(3)) === 0, id3).otherwise(lit("")),
          frame))
      Multimodal.audioMeta(d.select(col("doc_id"), unhex(payload).as("payload")))
        .select(col("doc_id"), col("audio_format"), col("audio_channels"),
          col("audio_sample_rate"), col("audio_bitrate_kbps"),
          // int-projected: the driver comparator has no boolean precedent
          col("audio_vbr").cast("int").as("audio_vbr"),
          col("audio_duration_ms"))
    }),

    "multimodal_exif_orientation" -> ((s, dir) => {
      // REAL EXIF TIFF/IFD walk under oracle: JPEGs constructed in SQL —
      // SOI, APP1 "Exif\0\0", a TIFF block in BOTH byte orders (parity),
      // IFD0 with one entry carrying orientation 1 + doc_id%8. Every 5th
      // row's entry is a different tag (orientation → null), every 7th is
      // junk. Oracle is pure CASE arithmetic.
      val d = t(s, dir, "documents").select(col("doc_id"))
      val or = (pmod(col("doc_id"), lit(8)) + 1).cast("int")
      val le = pmod(col("doc_id"), lit(2)) === 0
      val tagLe = when(pmod(col("doc_id"), lit(5)) === 0, "3101").otherwise("1201")
      val tagBe = when(pmod(col("doc_id"), lit(5)) === 0, "0131").otherwise("0112")
      // TIFF (26 bytes): order mark, 42, IFD0@8; count=1; one SHORT entry;
      // zero next-IFD pointer
      val tiff = when(le,
        concat(lit("4949" + "2A00" + "08000000" + "0100"), tagLe,
          lit("0300" + "01000000"), hexByte(or), lit("00" + "0000" + "00000000")))
        .otherwise(
          concat(lit("4D4D" + "002A" + "00000008" + "0001"), tagBe,
            lit("0003" + "00000001" + "00"), hexByte(or), lit("0000" + "00000000")))
      // APP1 length = 2(len) + 6(Exif\0\0) + 26(TIFF) = 34 = 0x22
      val jpeg = concat(lit("FFD8" + "FFE1" + "0022" + "457869660000"), tiff,
        lit("FFD9"))
      val payload = when(pmod(col("doc_id"), lit(7)) === 0, lit("ABCD"))
        .otherwise(jpeg)
      Multimodal.exifOrientation(
        d.select(col("doc_id"), unhex(payload).as("payload")))
        .select(col("doc_id"), col("img_orientation"))
    }),

    "warc_parse" -> ((s, dir) => {
      // the WARC framing parser under oracle: blobs are framed IN SQL from
      // documents rows (10 records per blob, doc_id order within the blob;
      // Content-Length is the UTF-8 BYTE length, which the Persian
      // documents text makes a genuine byte-vs-char test), then parsed
      // back by the real streaming parser. The oracle never frames — it
      // emits the expected fields analytically, so a framing/length bug
      // on either side of the round-trip hash-mismatches.
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val uri = concat(lit("https://example.org/doc/"),
        col("doc_id").cast("string"))
      val header = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), uri,
        lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n" +
          "Content-Type: text/html\r\nContent-Length: "),
        length(encode(col("text"), "UTF-8")).cast("string"), lit("\r\n\r\n"))
      val rec = concat(encode(header, "UTF-8"), encode(col("text"), "UTF-8"),
        encode(lit("\r\n\r\n"), "UTF-8"))
      val blobs = d
        .select(floor(col("doc_id") / 10).as("b"),
          struct(col("doc_id"), rec.as("rec")).as("r"))
        .groupBy("b")
        .agg(aggregate(sort_array(collect_list(col("r"))),
          lit(Array.empty[Byte]),
          (acc, x) => concat(acc, x.getField("rec"))).as("warc"))
      WarcSource.parseRecords(s, blobs, "warc")
        .select(col("target_uri"), col("content_length"),
          decode(col("body"), "UTF-8").as("body"))
    }),

    // ---- text analysis ----
    "text_lang_id" -> ((s, dir) => t(s, dir, "documents")
      .groupBy(TextStats.langIdByScript(col("text")).as("pred_lang"))
      .agg(count(lit(1)).as("n"))),

    "text_quality" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), TextStats.qualityFeatures(col("text")).as("f"))
      .select(col("doc_id"),
        col("f.n_tokens").as("n_tokens"),
        col("f.mean_word_len").as("mean_word_len"),
        col("f.punct_ratio").as("punct_ratio"),
        col("f.stopword_ratio").as("stopword_ratio"))),

    "text_fingerprint" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))),

    "text_token_count" -> ((s, dir) => t(s, dir, "documents")
      .select(col("doc_id"), TextStats.tokenCountWs(col("text")).as("n_ws_tokens"))),

    // Gopher-style repetition signals; the synthetic docs are single-line,
    // so the line axis is exercised over a words-as-lines construction
    // (replace spaces with newlines — identical in the oracle); full
    // multi-line semantics are spec-covered
    "text_repetition" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        TextStats.repetitionSignals(
          regexp_replace(col("text"), lit(" "), lit("\n"))).as("r1"),
        TextStats.repetitionSignals(col("text")).as("r2"))
        .select(col("doc_id"),
          col("r1.dup_line_frac").as("dup_line_frac"),
          col("r2.top_word_frac").as("top_word_frac"),
          col("r2.dup_3gram_frac").as("dup_3gram_frac"))
    }),

    // CCNet-style LM quality gate: train the char-trigram model on the
    // even-id half, score every doc (odd docs exercise the unseen-gram
    // floor path)
    "text_lm_score" -> ((s, dir) => {
      val d = scalarMapInput(s, t(s, dir, "documents"))
      val model = CharLm.train(d.filter(pmod(col("doc_id"), lit(2)) === 0), "text")
      CharLm.score(d, model, "doc_id", "text")
    }),

    // deterministic train/val/test split + per-source mixture sampling in
    // one row-level-compared output: the md5 unit draw makes every
    // decision reproducible in DuckDB bit-for-bit
    "mix_sample_split" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val sampled = graft.ops.Mix.sampleBySource(d,
        Map("src0" -> 0.0, "src1" -> 0.25, "src2" -> 0.5), "source", "doc_id",
        defaultWeight = 0.75)
      graft.ops.Mix.assignSplit(sampled, "doc_id", valFrac = 0.1, testFrac = 0.2)
        .select(col("doc_id"), col("source"), col("split"))
    }),

    // PII scrub: plant deterministic emails/IPs/phones on modular doc
    // subsets (counts vary per doc), redact, and count — byte-exact in
    // DuckDB because every pattern is RE2-safe with greedy-class-only
    // structure (see Pii scaladoc)
    "text_pii_redact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pid = col("doc_id")
      val withPii = d.select(pid, concat(
        col("text"),
        when(pmod(pid, lit(3)) === 0,
          concat(lit(" contact u"), pid, lit("@example.org"))).otherwise(lit("")),
        when(pmod(pid, lit(4)) === 0,
          concat(lit(" from 10.2."), pmod(pid, lit(256)), lit(".7"))).otherwise(lit("")),
        when(pmod(pid, lit(5)) === 0,
          concat(lit(" tel +1-555-01"), pmod(pid, lit(100)))).otherwise(lit("")))
        .as("t"))
      withPii.select(col("doc_id"),
        graft.ops.Pii.redact(col("t")).as("text_redacted"),
        graft.ops.Pii.piiCounts(col("t")).as("p"))
        .select(col("doc_id"), col("text_redacted"),
          col("p.n_emails").as("n_emails"),
          col("p.n_ips").as("n_ips"),
          col("p.n_phones").as("n_phones"))
    }),

    // per-source document cap (anti-flood domain mix control): keep the
    // 10 earliest docs of each source via the salted two-phase window
    "curate_source_cap" -> ((s, dir) =>
      Curation.capPerSource(t(s, dir, "documents"), "source", "doc_id", k = 10)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))),

    // benchmark decontamination: the "benchmark" is every 10th doc's text,
    // so those docs are fully contaminated by construction and the rest
    // hit only via genuine shared 5-grams (n lowered from the published 13
    // because the synthetic docs are ~50 words)
    "decontaminate_stats" -> ((s, dir) => {
      val d = scalarMapInput(s, t(s, dir, "documents"))
      val bench = d.filter(pmod(col("doc_id"), lit(10)) === 0).select(col("text"))
      val bg = Decontaminate.benchmarkGrams(bench, "text", n = 5)
      Decontaminate.contaminationStats(d, bg, "doc_id", "text", n = 5)
    }),

    // the WARC round trip: documents framed by the distributed WRITER into
    // real sharded .warc.gz files on disk, re-ingested by the file reader
    // — export and ingest must agree byte-for-byte on framing and UTF-8
    // lengths; the oracle emits the expected fields analytically and never
    // frames, so a bug on either side hash-mismatches
    "warc_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "documents").select(
        concat(lit("https://example.org/doc/"),
          col("doc_id").cast("string")).as("uri"),
        lit("2026-01-01T00:00:00Z").as("date"),
        lit("text/plain").as("ctype"),
        encode(col("text"), "UTF-8").as("body"))
      // PROCESS-unique dir: a concurrent harness run must not clobber
      // this run's shards mid-read (read() streams lazily, unlike the
      // eager k4 csv pattern), while repeated invocations in one JVM
      // self-overwrite and a shutdown hook reclaims the disk — no
      // per-invocation directory leak into tmpdir
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_warc_rt_" +
        ProcessHandle.current().pid()
      cleanupOnExit(out)
      graft.sources.WarcSource.write(src.repartition(8, col("uri")), out)
      graft.sources.WarcSource.read(s, out + "/part-*.warc.gz")
        .select(col("target_uri"), col("content_length"),
          decode(col("body"), "UTF-8").as("body_text"))
    }),

    // freshness-driven recrawl scheduling (Recrawl): history constructed
    // so url u_k changes its content hash every (1 + k%7) rounds with
    // planted null-hash failed fetches; change-rate MLE + staleness at
    // round 40, all ln/exp math 6dp-rounded at source so the schedule is
    // row-exact in DuckDB
    "recrawl_schedule" -> ((s, dir) => {
      val ids = t(s, dir, "orders").filter(col("o_orderkey") < 9000)
        .select(col("o_orderkey").cast("long").as("n"))
      val hist = ids.selectExpr(
        "concat('u', CAST(n % 300 AS STRING)) AS url_key",
        "n DIV 300 AS round",
        "CASE WHEN n % 41 = 0 THEN NULL ELSE md5(concat('u', " +
          "CAST(n % 300 AS STRING), '-', CAST((n DIV 300) DIV " +
          "(1 + (n % 300) % 7) AS STRING))) END AS content_hash")
      graft.frontier.Recrawl.recrawlPriority(
        graft.frontier.Recrawl.changeStats(hist),
        currentRound = 40L, defaultRate = 0.1)
    }),

    // supervised quality/domain classifier (the FineWeb-Edu/DCLM pattern:
    // a small model trained on labeled seed docs scores the full corpus):
    // multinomial NB trained on the even-doc_id half labeled by `source`,
    // then EVERY doc classified — per-doc argmax label + 6dp-rounded
    // log-score; the oracle recomputes train, smoothing, per-(doc,label)
    // scores, and the (score DESC, label DESC) argmax in DuckDB
    "text_classify_nb" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val model = Classify.trainNb(
        d.filter(pmod(col("doc_id"), lit(2)) === 0), "text", "source")
      Classify.classifyNb(d, model, "doc_id", "text")
    })
  )

  /** Multi-field search corpus constructed deterministically from
    * documents.text (the reference indexes question/answer/content; the
    * synthetic table has one text column, so fields = positional token
    * slices — identical construction in the DuckDB oracles).
    */
  private def searchDocs3(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    t(s, dir, "documents").select(col("doc_id"),
      array_join(slice(toks, 1, 8), " ").as("question"),
      array_join(slice(toks, 9, 12), " ").as("answer"),
      array_join(slice(toks, lit(21), greatest(size(toks) - 20, lit(0))), " ")
        .as("content"))
  }

  private val searchFields = Seq(Search.Field("question", 5.0),
    Search.Field("answer", 3.0), Search.Field("content", 2.0))

  // shared BM25 oracle CTE chain (identical corpus/query construction and
  // scoring arithmetic for every search_* oracle; DOUBLE casts keep DuckDB's
  // decimal literals from diverging from Spark's IEEE doubles)
  private val bm25ScoredCte: String =
    """WITH docs3 AS (
           SELECT doc_id,
             array_to_string(toks[1:8], ' ') AS question,
             array_to_string(toks[9:20], ' ') AS answer,
             array_to_string(toks[21:len(toks)], ' ') AS content
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         fields(field, boost) AS (VALUES ('question', CAST(5.0 AS DOUBLE)),
           ('answer', CAST(3.0 AS DOUBLE)), ('content', CAST(2.0 AS DOUBLE))),
         tok AS (
           SELECT d.doc_id, f.field,
             unnest(string_split(lower(CASE f.field
               WHEN 'question' THEN d.question
               WHEN 'answer' THEN d.answer
               ELSE d.content END), ' ')) AS term
           FROM docs3 d, fields f),
         tok2 AS (SELECT * FROM tok WHERE len(term) > 0),
         tf AS (SELECT field, doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2, 3),
         dlen AS (SELECT field, doc_id, count(*) AS dl FROM tok2 GROUP BY 1, 2),
         stats AS (SELECT field, term, count(*) AS df FROM tf GROUP BY 1, 2),
         avgl AS (SELECT field, avg(dl) AS avgdl FROM dlen GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         queries(query_id, qtext) AS (VALUES (1, 'spark shuffle'), (2, 'hash join table'),
           (3, 'window agg data'), (4, 'vector')),
         qterm AS (SELECT query_id, unnest(string_split(lower(qtext), ' ')) AS term FROM queries),
         scored AS (
           SELECT q.query_id, t.doc_id,
             round(sum(fb.boost
               * ln(CAST(1.0 AS DOUBLE) + (n.n - s.df + CAST(0.5 AS DOUBLE))
                    / (s.df + CAST(0.5 AS DOUBLE)))
               * t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
               / (t.tf + CAST(1.2 AS DOUBLE)
                  * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
                     + CAST(0.75 AS DOUBLE) * dl.dl / a.avgdl))), 6) AS score
           FROM qterm q
           JOIN tf t ON q.term = t.term
           JOIN stats s ON s.field = t.field AND s.term = t.term
           JOIN dlen dl ON dl.field = t.field AND dl.doc_id = t.doc_id
           JOIN avgl a ON a.field = t.field
           JOIN fields fb ON fb.field = t.field
           CROSS JOIN n
           GROUP BY 1, 2)"""

  def oracleSql: Map[String, String] = {
    val m = oracleSqlBase
    // the indexed phrase probe must reproduce the direct phrase path —
    // same oracle by construction
    m + ("search_bm25_phrase_indexed" -> m("search_bm25_phrase"))
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 3) AS sum_qty,
         round(sum(l_extendedprice * (1.0 - l_discount)), 3) AS revenue,
         count(*) AS n_rows FROM lineitem GROUP BY 1, 2""",

    "a1_dup_groups" ->
      """SELECT o_custkey, count(*) AS dup_count FROM orders
         GROUP BY 1 HAVING count(*) >= 2""",

    "a2_distinct_card" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
         count(*) AS n_events FROM events GROUP BY 1""",

    "a3_dup_stats" ->
      """SELECT CAST(sum(c - 1) AS BIGINT) AS n_duplicates,
         CAST(sum(c) * 1000000 // count(*) AS BIGINT) AS avg_bucket_micros,
         max(c) AS max_bucket, count(*) AS n_buckets FROM
         (SELECT count(*) AS c FROM orders GROUP BY o_custkey HAVING count(*) >= 2)""",

    "a5_resume_point" ->
      "SELECT event_type, max(ts) AS last_ts FROM events GROUP BY 1",

    "w1_keep_first" ->
      """SELECT user_id, event_id, event_type FROM
         (SELECT user_id, event_id, event_type,
          row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn = 1""",

    "w2_top10" ->
      """SELECT o_custkey, count(*) AS dup_count FROM orders GROUP BY 1
         ORDER BY dup_count DESC, o_custkey LIMIT 10""",

    "w3_rank_per_key" ->
      """SELECT event_type, event_id, value, rnk FROM
         (SELECT event_type, event_id, value,
          row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rnk
          FROM events) WHERE rnk <= 3""",

    // fixed-iteration PageRank unrolls to one (dangling, inflow, rank)
    // CTE triple per power iteration; every literal CAST to DOUBLE and
    // (1.0 - 0.85) left as the expression Scala evaluates
    "graph_pagerank" ->
      """WITH ids AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders WHERE o_orderkey < 6000),
         e AS (SELECT DISTINCT k % 500 AS src,
                 CAST('0x' || substr(md5(CAST(k AS VARCHAR) || '-pr'), 1, 8) AS BIGINT) % 700 AS dst
               FROM ids),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         od AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS odeg FROM e GROUP BY src),
         r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes, nn),
         d1 AS (SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) AS dm
                FROM r0 r LEFT JOIN od USING (node) WHERE od.odeg IS NULL),
         c1 AS (SELECT e.dst AS node, sum(r.rank / od.odeg) AS inflow
                FROM r0 r JOIN od USING (node) JOIN e ON e.src = r.node GROUP BY e.dst),
         r1 AS (SELECT nd.node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) * (coalesce(c.inflow, CAST(0 AS DOUBLE)) + d1.dm / nn.n) AS rank
                FROM nodes nd LEFT JOIN c1 c USING (node), nn, d1),
         d2 AS (SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) AS dm
                FROM r1 r LEFT JOIN od USING (node) WHERE od.odeg IS NULL),
         c2 AS (SELECT e.dst AS node, sum(r.rank / od.odeg) AS inflow
                FROM r1 r JOIN od USING (node) JOIN e ON e.src = r.node GROUP BY e.dst),
         r2 AS (SELECT nd.node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) * (coalesce(c.inflow, CAST(0 AS DOUBLE)) + d2.dm / nn.n) AS rank
                FROM nodes nd LEFT JOIN c2 c USING (node), nn, d2),
         d3 AS (SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) AS dm
                FROM r2 r LEFT JOIN od USING (node) WHERE od.odeg IS NULL),
         c3 AS (SELECT e.dst AS node, sum(r.rank / od.odeg) AS inflow
                FROM r2 r JOIN od USING (node) JOIN e ON e.src = r.node GROUP BY e.dst),
         r3 AS (SELECT nd.node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) * (coalesce(c.inflow, CAST(0 AS DOUBLE)) + d3.dm / nn.n) AS rank
                FROM nodes nd LEFT JOIN c3 c USING (node), nn, d3)
         SELECT node, round(rank, 6) AS rank FROM r3""",

    // the oracle knows every anchor ANALYTICALLY from the page
    // construction: "/tX" resolves against the page origin, "../shared
    // .html" merges at /d/ and the dot segment collapses to the root,
    // the uppercase-scheme absolute href canonicalizes (lowercase host,
    // :80 stripped, query sorted, fragment cut, &amp; decoded), and the
    // javascript:/no-href anchors never produce rows
    "graph_anchor_text" ->
      """WITH ids AS (SELECT CAST(o_orderkey AS BIGINT) AS n FROM orders WHERE o_orderkey < 3000),
         a AS (
           SELECT concat('http://s', CAST(n % 7 AS VARCHAR), '.ir/t', CAST(n % 50 AS VARCHAR)) AS dst_url,
                  concat('Target ', CAST(n % 50 AS VARCHAR)) AS text FROM ids
           UNION ALL
           SELECT concat('http://s', CAST(n % 7 AS VARCHAR), '.ir/shared.html'), 'Shared & Co' FROM ids
           UNION ALL
           SELECT 'http://hub.ir/h?a=2&b=1', concat('Hub ', CAST(n % 3 AS VARCHAR)) FROM ids),
         c AS (SELECT dst_url, text, count(*) AS cnt FROM a GROUP BY dst_url, text),
         r AS (SELECT dst_url, text, cnt,
                 row_number() OVER (PARTITION BY dst_url ORDER BY cnt DESC, text) AS rnk
               FROM c)
         SELECT dst_url, text, cnt, rnk FROM r WHERE rnk <= 3""",

    // incremental == batch: counts merge additively across the two
    // deltas, so the oracle is the batch aggregation over ALL pages —
    // identical SQL to graph_anchor_text
    "graph_anchor_incremental" ->
      """WITH ids AS (SELECT CAST(o_orderkey AS BIGINT) AS n FROM orders WHERE o_orderkey < 3000),
         a AS (
           SELECT concat('http://s', CAST(n % 7 AS VARCHAR), '.ir/t', CAST(n % 50 AS VARCHAR)) AS dst_url,
                  concat('Target ', CAST(n % 50 AS VARCHAR)) AS text FROM ids
           UNION ALL
           SELECT concat('http://s', CAST(n % 7 AS VARCHAR), '.ir/shared.html'), 'Shared & Co' FROM ids
           UNION ALL
           SELECT 'http://hub.ir/h?a=2&b=1', concat('Hub ', CAST(n % 3 AS VARCHAR)) FROM ids),
         c AS (SELECT dst_url, text, count(*) AS cnt FROM a GROUP BY dst_url, text),
         r AS (SELECT dst_url, text, cnt,
                 row_number() OVER (PARTITION BY dst_url ORDER BY cnt DESC, text) AS rnk
               FROM c)
         SELECT dst_url, text, cnt, rnk FROM r WHERE rnk <= 3""",

    // the probe must return exactly the batch top-k RESTRICTED to the
    // probed targets (partition pruning changes what is read, never what
    // is returned)
    "graph_anchor_probe" ->
      """WITH ids AS (SELECT CAST(o_orderkey AS BIGINT) AS n FROM orders WHERE o_orderkey < 3000),
         a AS (
           SELECT concat('http://s', CAST(n % 7 AS VARCHAR), '.ir/t', CAST(n % 50 AS VARCHAR)) AS dst_url,
                  concat('Target ', CAST(n % 50 AS VARCHAR)) AS text FROM ids
           UNION ALL
           SELECT concat('http://s', CAST(n % 7 AS VARCHAR), '.ir/shared.html'), 'Shared & Co' FROM ids
           UNION ALL
           SELECT 'http://hub.ir/h?a=2&b=1', concat('Hub ', CAST(n % 3 AS VARCHAR)) FROM ids),
         c AS (SELECT dst_url, text, count(*) AS cnt FROM a GROUP BY dst_url, text),
         r AS (SELECT dst_url, text, cnt,
                 row_number() OVER (PARTITION BY dst_url ORDER BY cnt DESC, text) AS rnk
               FROM c)
         SELECT dst_url, text, cnt, rnk FROM r
         WHERE rnk <= 3 AND dst_url IN
           ('http://hub.ir/h?a=2&b=1', 'http://s3.ir/t10', 'http://s0.ir/shared.html')""",

    // graph_pagerank's unrolled 3-iteration SQL over HOST strings: url
    // edges collapse to host pairs, self-loops drop (the hostRank
    // convention), and the two-delta split is invisible — distinct host
    // pairs merge to the full graph
    "graph_rank_incremental" ->
      """WITH ids AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders WHERE o_orderkey < 6000),
         e0 AS (SELECT DISTINCT
                 concat('n', CAST(k % 500 AS VARCHAR), '.ir') AS src,
                 concat('n', CAST(CAST('0x' || substr(md5(CAST(k AS VARCHAR) || '-pr'), 1, 8) AS BIGINT) % 700 AS VARCHAR), '.ir') AS dst
               FROM ids),
         e AS (SELECT src, dst FROM e0 WHERE src <> dst),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         od AS (SELECT src AS node, CAST(count(*) AS DOUBLE) AS odeg FROM e GROUP BY src),
         r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes, nn),
         d1 AS (SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) AS dm
                FROM r0 r LEFT JOIN od USING (node) WHERE od.odeg IS NULL),
         c1 AS (SELECT e.dst AS node, sum(r.rank / od.odeg) AS inflow
                FROM r0 r JOIN od USING (node) JOIN e ON e.src = r.node GROUP BY e.dst),
         r1 AS (SELECT nd.node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) * (coalesce(c.inflow, CAST(0 AS DOUBLE)) + d1.dm / nn.n) AS rank
                FROM nodes nd LEFT JOIN c1 c USING (node), nn, d1),
         d2 AS (SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) AS dm
                FROM r1 r LEFT JOIN od USING (node) WHERE od.odeg IS NULL),
         c2 AS (SELECT e.dst AS node, sum(r.rank / od.odeg) AS inflow
                FROM r1 r JOIN od USING (node) JOIN e ON e.src = r.node GROUP BY e.dst),
         r2 AS (SELECT nd.node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) * (coalesce(c.inflow, CAST(0 AS DOUBLE)) + d2.dm / nn.n) AS rank
                FROM nodes nd LEFT JOIN c2 c USING (node), nn, d2),
         d3 AS (SELECT coalesce(sum(r.rank), CAST(0 AS DOUBLE)) AS dm
                FROM r2 r LEFT JOIN od USING (node) WHERE od.odeg IS NULL),
         c3 AS (SELECT e.dst AS node, sum(r.rank / od.odeg) AS inflow
                FROM r2 r JOIN od USING (node) JOIN e ON e.src = r.node GROUP BY e.dst),
         r3 AS (SELECT nd.node, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) * (coalesce(c.inflow, CAST(0 AS DOUBLE)) + d3.dm / nn.n) AS rank
                FROM nodes nd LEFT JOIN c3 c USING (node), nn, d3)
         SELECT node AS host, round(rank, 6) AS rank FROM r3""",

    // the same integer quartile + shift arithmetic; clean hosts (budget
    // not reduced) are absent from both sides
    "adaptive_budgets" ->
      """WITH ids AS (SELECT CAST(o_orderkey AS BIGINT) AS n FROM orders WHERE o_orderkey < 9000),
         r AS (SELECT concat('h', CAST(n % 40 AS VARCHAR), '.ir') AS host,
                 CASE WHEN (n // 40) % 8 < (n % 40) % 9 THEN 'missing'
                      ELSE 'ok' END AS status
               FROM ids),
         a AS (SELECT host, count(*) AS n,
                 CAST(sum(CASE WHEN status = 'ok' THEN 0 ELSE 1 END) AS BIGINT) AS errors
               FROM r GROUP BY host),
         b AS (SELECT host, n, errors,
                 CAST(greatest(1, 10 >> CAST((4 * errors) // n AS INT)) AS INT) AS budget
               FROM a)
         SELECT host, n, errors, budget FROM b WHERE budget < 10""",

    // dedup winner via the same (priority, attempt DESC, discovered_round)
    // rule, then one global rank by (priority, url_key) — full ties are
    // impossible by construction (a key repeats only every lcm(3000,97,4,5)
    // = 291000 > 8000 rows), so the cut is engine-exact
    "frontier_cap" ->
      """WITH ids AS (SELECT CAST(o_orderkey AS BIGINT) AS n FROM orders WHERE o_orderkey < 8000),
         raw AS (SELECT
           concat('k', CAST(n % 3000 AS VARCHAR)) AS url_key,
           concat('http://h', CAST((n % 3000) % 7 AS VARCHAR), '.ir/p', CAST(n % 3000 AS VARCHAR)) AS url,
           concat('h', CAST((n % 3000) % 7 AS VARCHAR), '.ir') AS host,
           CAST(n % 97 AS DOUBLE) AS priority,
           CAST(n % 4 AS INT) AS attempt,
           CAST(n % 5 AS INT) AS discovered_round
           FROM ids),
         d AS (SELECT * FROM raw
               QUALIFY row_number() OVER (PARTITION BY url_key
                 ORDER BY priority, attempt DESC, discovered_round) = 1),
         r AS (SELECT *, row_number() OVER (ORDER BY priority, url_key) AS rk FROM d)
         SELECT url_key, url, host, priority, attempt, discovered_round,
           rk <= 500 AS kept FROM r""",

    // a recursive CTE walks every chain the same ≤ 2^rounds = 8 steps the
    // pointer doubling bounds; the furthest state per url is the answer,
    // and a cursor still inside the redirect map is unresolved (cycles
    // saturate at exactly 8 hops in both formulations)
    "redirect_resolve" ->
      """WITH RECURSIVE ids AS (SELECT CAST(o_orderkey AS BIGINT) AS n FROM orders WHERE o_orderkey < 4000),
         raw AS (SELECT
           CASE WHEN n % 10 <= 6 THEN concat('http://r.ir/g', CAST(n // 10 AS VARCHAR), '/p', CAST(n % 10 AS VARCHAR))
                ELSE concat('http://r.ir/cyc', CAST(n // 10 AS VARCHAR), '/', CAST(n % 10 - 7 AS VARCHAR)) END AS src,
           CASE WHEN n % 10 <= 6 THEN concat('http://r.ir/g', CAST(n // 10 AS VARCHAR), '/p', CAST(n % 10 + 1 AS VARCHAR))
                ELSE concat('http://r.ir/cyc', CAST(n // 10 AS VARCHAR), '/', CAST((n % 10 - 6) % 3 AS VARCHAR)) END AS dst
           FROM ids),
         e AS (SELECT src, min(dst) AS dst FROM raw GROUP BY src),
         walk AS (
           SELECT src AS url, dst AS cur, 1 AS hops FROM e
           UNION ALL
           SELECT w.url, e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.cur
           WHERE w.hops < 8),
         fin AS (SELECT url, cur, hops FROM walk
                 QUALIFY row_number() OVER (PARTITION BY url ORDER BY hops DESC) = 1)
         SELECT f.url,
           CASE WHEN t.src IS NULL THEN f.cur END AS final_url,
           CAST(f.hops AS BIGINT) AS hops,
           t.src IS NULL AS resolved
         FROM fin f LEFT JOIN e t ON t.src = f.cur""",

    // construction-knowledge oracle: index blobs yield one 'sitemap' row,
    // urlset blobs two 'url' rows (the loc-less entry is skipped, the
    // &amp; in loc decodes, priority "0.d" parses to the same nearest
    // double as d/10.0)
    "sitemap_parse" ->
      """WITH ids AS (SELECT CAST(o_orderkey AS BIGINT) AS n FROM orders WHERE o_orderkey < 2000),
         su AS (SELECT n, concat('https://s', CAST(n % 9 AS VARCHAR),
                  '.ir/sitemap', CAST(n AS VARCHAR), '.xml') AS sitemap_url FROM ids),
         e AS (
           SELECT sitemap_url, 'sitemap' AS kind,
             concat('https://s', CAST(n % 9 AS VARCHAR), '.ir/sitemap-child-',
               CAST(n AS VARCHAR), '.xml.gz') AS loc,
             CAST(NULL AS VARCHAR) AS lastmod, CAST(NULL AS VARCHAR) AS changefreq,
             CAST(NULL AS DOUBLE) AS priority
           FROM su WHERE n % 5 = 0
           UNION ALL
           SELECT sitemap_url, 'url',
             concat('https://s', CAST(n % 9 AS VARCHAR), '.ir/p?a=',
               CAST(n AS VARCHAR), '&b=2'),
             concat('2026-0', CAST(1 + n % 9 AS VARCHAR), '-15'),
             CAST(NULL AS VARCHAR), CAST(n % 10 AS DOUBLE) / 10
           FROM su WHERE n % 5 <> 0
           UNION ALL
           SELECT sitemap_url, 'url',
             concat('https://s', CAST(n % 9 AS VARCHAR), '.ir/plain',
               CAST(n AS VARCHAR)),
             CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
           FROM su WHERE n % 5 <> 0)
         SELECT sitemap_url, kind, loc, lastmod, changefreq, priority FROM e""",

    // construction-knowledge oracle: each host class's template/key-set/
    // signal columns are known analytically, and the verdict is the same
    // all-integer arithmetic the operator runs
    "trap_detect" ->
      """WITH ids AS (SELECT CAST(o_orderkey AS BIGINT) AS n FROM orders WHERE o_orderkey < 6000),
         u AS (SELECT n,
           CASE WHEN n % 3 = 0 THEN 'cal.ir'
                WHEN n % 3 = 1 THEN 'shop.ir'
                WHEN n % 12 = 2 AND n < 800 THEN 'tiny.ir'
                ELSE 'news.ir' END AS host,
           CASE WHEN n % 3 = 0 THEN '/d/{n}/{n}'
                WHEN n % 3 = 1 THEN '/list'
                WHEN n % 12 = 2 AND n < 800 THEN '/p/{n}'
                ELSE concat('/', chr(97 + CAST(n % 24 AS INT)),
                  chr(97 + CAST((n // 24) % 24 AS INT)), '/story') END AS template,
           CASE WHEN n % 3 = 1 THEN 'a,b,c,d,e,f,g' ELSE '' END AS query_keys,
           CASE WHEN n % 3 = 1 THEN 1 ELSE 0 END AS flagged
          FROM ids)
         SELECT host,
           count(*) AS n_urls,
           count(DISTINCT template) AS n_templates,
           count(DISTINCT query_keys) AS n_key_sets,
           CAST(sum(flagged) AS BIGINT) AS signal_urls,
           count(*) >= 50 * count(DISTINCT template) AS exploded,
           count(*) >= 100 AND (count(*) >= 50 * count(DISTINCT template)
             OR 4 * sum(flagged) >= count(*)) AS trap
         FROM u GROUP BY host""",

    "w6_politeness_schedule" ->
      """SELECT event_type, event_id, slot, (slot - 1) * 1000 AS scheduled_delay_ms FROM
         (SELECT event_type, event_id,
          row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS slot
          FROM events) WHERE slot <= 5""",

    "j1_anti_seen" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""",

    "j2_semi" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders)""",

    "j3_memoize_lookup" ->
      """SELECT o_orderkey, coalesce(c_name, 'missing') AS cust_name
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",

    "j4_union_distinct" ->
      """SELECT DISTINCT user_id FROM
         (SELECT user_id FROM events WHERE event_type = 'error'
          UNION ALL SELECT user_id FROM events WHERE event_type = 'signup')""",

    "j5_split_have_missing" ->
      """SELECT c_custkey,
         CASE WHEN n IS NULL THEN 'need_fetch' ELSE 'have' END AS split
         FROM customer LEFT JOIN
         (SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1)
         ON c_custkey = o_custkey""",

    "j7_upsert" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey % 7 <> 0
         UNION ALL
         SELECT c_custkey, 'FIXED-' || c_name AS c_name, 'UPDATED' AS c_mktsegment
         FROM customer WHERE c_custkey % 7 = 0""",

    "j6_retry_requeue" ->
      """SELECT event_id, attempt FROM
         (SELECT event_id, 0 AS attempt FROM events WHERE event_type = 'click'
          UNION ALL SELECT event_id, 1 AS attempt FROM events WHERE event_type = 'error')
         WHERE attempt <= 1""",

    "f1_error_filter" ->
      """SELECT doc_id, lang FROM documents WHERE NOT contains(text, 'join')""",

    "f3_token_budget" ->
      """SELECT doc_id, n_tokens FROM
         (SELECT doc_id, len(list_filter(regexp_split_to_array(text, '\s+'),
          x -> len(x) > 0)) AS n_tokens FROM documents)
         WHERE n_tokens <= 50""",

    "p5_url_construct" ->
      """SELECT o_orderkey, 'https://h' || (o_custkey % 8) ||
         '.example.ir/opinions/Detail?IdeaId=' || o_orderkey AS url FROM orders""",

    "p7_regex_extract" ->
      """SELECT o_orderkey, regexp_extract(
         '<a href="/Detail?IdeaId=' || o_orderkey || '">x</a>',
         'IdeaId=(\d+)', 1) AS idea_id FROM orders""",

    "p_json_props" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
         FROM events""",

    "extract_invariant" ->
      """SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS extracted_text
         FROM documents""",

    "dedup_exact_groups" ->
      """SELECT md5(text) AS content_hash, count(*) AS dup_count,
         CASE WHEN count(*) FILTER (WHERE doc_id IS NULL) > 0 THEN NULL
           ELSE min(doc_id) END AS keep_id FROM
         (SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 100000, text FROM documents)
         GROUP BY 1 HAVING count(*) >= 2""",

    "dedup_keep_first" ->
      """SELECT doc_id, lang, n_chars FROM
         (SELECT doc_id, text, lang, n_chars,
          row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM
          (SELECT doc_id, text, lang, source, n_chars FROM documents
           UNION ALL SELECT doc_id + 100000, text, lang, source, n_chars FROM documents))
         WHERE rn = 1""",

    "dedup_ngram_jaccard" ->
      """WITH g AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, greatest(length(lower(text)) - 1, 1)),
             i -> substr(lower(text), CAST(i AS INTEGER), 3))) AS grams
           FROM documents WHERE doc_id < 60)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
                 len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
         FROM g a, g b WHERE a.doc_id < b.doc_id
         AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
             len(list_distinct(list_concat(a.grams, b.grams))) >= 0.35""",

    "ann_brute_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.qid, e.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.qv AS DOUBLE[])) AS cos
           FROM embeddings e, q WHERE e.vec_id <> q.qid)
         SELECT qid, neighbor_id, rank FROM
         (SELECT qid, neighbor_id,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= 5""",

    "pipeline_curate" ->
      """WITH d AS (SELECT o_orderkey AS doc_id,
           array_to_string(list_transform(range(0, 40),
             j -> substr(md5(CAST(o_orderkey AS VARCHAR) || '-' || CAST(j AS VARCHAR)), 1, 8)),
             ' ') AS text
           FROM orders WHERE o_orderkey < 4000)
         SELECT doc_id, text,
         CASE WHEN length(regexp_replace(text, '[^a-zA-Zа-яА-Я؀-ۿ]', '', 'g')) = 0
           THEN 'unknown' ELSE 'latin' END AS lang,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) AS n_tokens
         FROM d""",

    "pipeline_curate_quality" ->
      """WITH d AS (SELECT o_orderkey AS doc_id,
           array_to_string(list_transform(range(0, 40),
             j -> substr(md5(CAST(o_orderkey AS VARCHAR) || '-' || CAST(j AS VARCHAR)), 1, 8)),
             ' ') AS text
           FROM orders WHERE o_orderkey < 4000)
         SELECT doc_id, text,
         CASE WHEN length(regexp_replace(text, '[^a-zA-Zа-яА-Я؀-ۿ]', '', 'g')) = 0
           THEN 'unknown' ELSE 'latin' END AS lang,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) AS n_tokens
         FROM d""",

    "pipeline_curate_delta" ->
      """WITH f AS (SELECT o_orderkey + 30000000 AS doc_id,
           array_to_string(list_transform(range(0, 40),
             j -> substr(md5(CAST(o_orderkey + 30000000 AS VARCHAR) || '-f-' || CAST(j AS VARCHAR)), 1, 8)),
             ' ') AS text
           FROM orders WHERE o_orderkey < 4000)
         SELECT doc_id, text,
         CASE WHEN length(regexp_replace(text, '[^a-zA-Zа-яА-Я؀-ۿ]', '', 'g')) = 0
           THEN 'unknown' ELSE 'latin' END AS lang,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) AS n_tokens
         FROM f""",

    "pipeline_curate_stream" ->
      """WITH ids AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 2000),
         d AS (SELECT k AS doc_id, array_to_string(list_transform(range(0, 40),
             j -> substr(md5(CAST(k AS VARCHAR) || '-' || CAST(j AS VARCHAR)), 1, 8)),
             ' ') AS text FROM ids),
         f AS (SELECT k + 30000000 AS doc_id, array_to_string(list_transform(range(0, 40),
             j -> substr(md5(CAST(k + 30000000 AS VARCHAR) || '-f-' || CAST(j AS VARCHAR)), 1, 8)),
             ' ') AS text FROM ids),
         g AS (SELECT k + 50000000 AS doc_id, array_to_string(list_transform(range(0, 40),
             j -> substr(md5(CAST(k + 50000000 AS VARCHAR) || '-g-' || CAST(j AS VARCHAR)), 1, 8)),
             ' ') AS text FROM ids),
         allv AS (SELECT * FROM d UNION ALL SELECT * FROM f UNION ALL SELECT * FROM g)
         SELECT doc_id, text,
         CASE WHEN length(regexp_replace(text, '[^a-zA-Zа-яА-Я؀-ۿ]', '', 'g')) = 0
           THEN 'unknown' ELSE 'latin' END AS lang,
         len(list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)) AS n_tokens
         FROM allv""",

    "ann_ivf_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.qid, e.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.qv AS DOUBLE[])) AS cos
           FROM embeddings e, q WHERE e.vec_id <> q.qid)
         SELECT qid, neighbor_id, rank FROM
         (SELECT qid, neighbor_id,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= 5""",

    "dedup_embedding_cosine" ->
      """SELECT vec_id AS id_a, vec_id + 100000 AS id_b,
         CAST(1.0 AS DOUBLE) AS cosine FROM embeddings""",

    // re-derives the md5 hyperplanes, per-table signatures, bucket
    // self-join and exact-cosine verify. Every arithmetic step is
    // bit-exact across engines: 48-bit md5 prefix / 2^47 is an exact
    // double, and list_dot_product over CAST(... AS DOUBLE[]) matches the
    // Scala loop's sequential double accumulation (verified bit-identical)
    "ann_lsh_pairs" ->
      """WITH pl AS (
           SELECT t.t AS t, b.b AS b,
             list(CAST(CAST('0x' || substr(md5('42-' || t.t || '-' || b.b || '-' || d.d), 1, 12) AS BIGINT) AS DOUBLE)
               / CAST(140737488355328.0 AS DOUBLE) - CAST(1.0 AS DOUBLE) ORDER BY d.d) AS p
           FROM range(0,6) t(t), range(0,8) b(b), range(0,64) d(d)
           GROUP BY t.t, b.b),
         sigs AS (
           SELECT e.vec_id AS id, pl.t,
             sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.p) > CAST(0 AS DOUBLE)
                 THEN (CAST(1 AS BIGINT) << pl.b) ELSE CAST(0 AS BIGINT) END) AS sig
           FROM embeddings e, pl GROUP BY e.vec_id, pl.t),
         cand AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig AND a.id < b.id),
         v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         scored AS (
           SELECT c.id_a, c.id_b,
             CASE WHEN list_dot_product(va.v, va.v) = CAST(0 AS DOUBLE)
                    OR list_dot_product(vb.v, vb.v) = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)
                  ELSE list_dot_product(va.v, vb.v) /
                    (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))) END AS c
           FROM cand c JOIN v va ON va.id = c.id_a JOIN v vb ON vb.id = c.id_b)
         SELECT id_a, id_b, round(c, 6) AS cosine FROM scored WHERE c >= CAST(0.2 AS DOUBLE)""",

    "ann_ivf_clustered" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.qid, e.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(q.qv AS DOUBLE[])) AS cos
           FROM embeddings e, q WHERE e.vec_id <> q.qid)
         SELECT qid, neighbor_id, rank FROM
         (SELECT qid, neighbor_id,
          row_number() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= 5""",

    "tokenize_vocab" ->
      """SELECT token, CAST(rn AS INT) AS token_id, n_occurrences FROM
         (SELECT token, count(*) AS n_occurrences,
            row_number() OVER (ORDER BY count(*) DESC, token) AS rn
          FROM (SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents)
          WHERE len(token) > 0 GROUP BY token)
         WHERE rn <= 30""",

    "tokenize_encode" ->
      """WITH base AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         vocab AS (
           SELECT token, CAST(rn AS INT) AS token_id FROM
           (SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) AS rn
            FROM (SELECT unnest(toks) AS token FROM base) GROUP BY token)
           WHERE rn <= 30),
         tok AS (
           SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
           FROM base),
         enc AS (
           SELECT t.doc_id,
             list(coalesce(v.token_id, 0) ORDER BY t.pos) AS token_ids
           FROM tok t LEFT JOIN vocab v USING (token)
           GROUP BY t.doc_id)
         SELECT doc_id, array_to_string(token_ids, ' ') AS token_ids,
           CAST(len(token_ids) AS INT) AS n_tokens,
           CAST(len(list_filter(token_ids, x -> x = 0)) AS INT) AS n_unk
         FROM enc""",

    "tokenize_chunk" ->
      """WITH base AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         vocab AS (
           SELECT token, CAST(rn AS INT) AS token_id FROM
           (SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) AS rn
            FROM (SELECT unnest(toks) AS token FROM base) GROUP BY token)
           WHERE rn <= 30),
         tok AS (
           SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
           FROM base),
         enc AS (
           SELECT t.doc_id,
             list(coalesce(v.token_id, 0) ORDER BY t.pos) AS token_ids
           FROM tok t LEFT JOIN vocab v USING (token)
           GROUP BY t.doc_id),
         chunks AS (
           SELECT doc_id, CAST(c AS INT) AS chunk_idx,
             token_ids[CAST(c*12 + 1 AS BIGINT) : CAST(c*12 + 16 AS BIGINT)] AS token_ids
           FROM enc, unnest(range(0, CASE WHEN len(token_ids) <= 16 THEN 1
             ELSE CAST(ceil((len(token_ids) - 16) / 12.0) AS BIGINT) + 1 END)) AS t(c)
           WHERE len(token_ids) > 0)
         SELECT doc_id, chunk_idx, array_to_string(token_ids, ' ') AS token_ids
         FROM chunks WHERE len(token_ids) >= 8""",

    "tokenize_pack" ->
      """WITH base AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         vocab AS (
           SELECT token, CAST(rn AS INT) AS token_id FROM
           (SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) AS rn
            FROM (SELECT unnest(toks) AS token FROM base) GROUP BY token)
           WHERE rn <= 30),
         tok AS (
           SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
           FROM base),
         enc AS (
           SELECT t.doc_id,
             list(coalesce(v.token_id, 0) ORDER BY t.pos) AS token_ids
           FROM tok t LEFT JOIN vocab v USING (token)
           GROUP BY t.doc_id),
         stream AS (
           SELECT flatten(list(list_append(token_ids, 99) ORDER BY doc_id)) AS s
           FROM enc WHERE len(token_ids) > 0),
         packs AS (
           SELECT CAST(k AS BIGINT) AS seq_idx,
             s[CAST(k*16 + 1 AS BIGINT) : CAST(k*16 + 16 AS BIGINT)] AS ids
           FROM stream, unnest(range(0,
             CAST(ceil(len(s) / 16.0) AS BIGINT))) AS t(k))
         SELECT seq_idx, array_to_string(ids, ' ') AS token_ids
         FROM packs WHERE len(ids) >= 8""",

    "dedup_paragraph" ->
      """WITH d AS (
           SELECT doc_id,
             regexp_replace(text, '((\S+ ){7}\S+) ', '\1' || chr(10), 'g') AS text
           FROM documents),
         ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM d),
         lines AS (
           SELECT doc_id, unnest(l) AS line, generate_subscripts(l, 1) AS idx
           FROM ls),
         kept AS (
           SELECT doc_id, idx, line FROM
           (SELECT doc_id, idx, line,
              row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
            FROM lines)
           WHERE rn = 1)
         SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS text,
           CAST(count(*) AS INT) AS n_lines_kept
         FROM kept GROUP BY doc_id""",

    "pipeline_training_data" ->
      """WITH ids0 AS (
           SELECT CAST(o_orderkey AS BIGINT) AS doc_id FROM orders
           WHERE o_orderkey < 4000),
         d0 AS (
           SELECT doc_id, array_to_string(list_transform(range(0, 40),
             j -> substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(j AS VARCHAR)), 1, 8)),
             ' ') AS text
           FROM ids0),
         surv AS (
           SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN text ||
             ' boiler0 boiler1 boiler2 boiler3 boiler4 boiler5 boiler6 boiler7 boiler8 boiler9'
             ELSE text END AS text
           FROM d0),
         sd_w AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ws
           FROM surv),
         sd_g AS (
           SELECT doc_id, CAST(p AS INT) AS pos,
             array_to_string(ws[CAST(p + 1 AS BIGINT):CAST(p + 8 AS BIGINT)], ' ') AS gram
           FROM sd_w, unnest(range(0, len(ws) - 8 + 1)) AS t(p)),
         sd_losers AS (
           SELECT doc_id, pos FROM (
             SELECT doc_id, pos,
               row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
             FROM sd_g) WHERE rn > 1),
         sd_cov AS (
           SELECT DISTINCT doc_id, CAST(c AS INT) AS cp
           FROM sd_losers, unnest(range(pos, pos + 8)) AS t(c)),
         sd_wp AS (
           SELECT doc_id, unnest(ws) AS word,
             CAST(generate_subscripts(ws, 1) - 1 AS INT) AS wpos
           FROM sd_w),
         sd_kept AS (
           SELECT doc_id, word, wpos FROM sd_wp
           WHERE NOT EXISTS (SELECT 1 FROM sd_cov
             WHERE sd_cov.doc_id = sd_wp.doc_id AND sd_cov.cp = sd_wp.wpos)),
         dd AS (
           SELECT doc_id, string_agg(word, ' ' ORDER BY wpos) AS text
           FROM sd_kept GROUP BY doc_id),
         base AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM dd),
         vocab AS (
           SELECT token, CAST(rn AS INT) AS token_id FROM
           (SELECT token, row_number() OVER (ORDER BY count(*) DESC, token) AS rn
            FROM (SELECT unnest(toks) AS token FROM base) GROUP BY token)
           WHERE rn <= 30),
         tok AS (
           SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
           FROM base),
         enc AS (
           SELECT t.doc_id,
             list(coalesce(v.token_id, 0) ORDER BY t.pos) AS token_ids
           FROM tok t LEFT JOIN vocab v USING (token)
           GROUP BY t.doc_id),
         stream AS (
           SELECT flatten(list(list_append(token_ids, 99) ORDER BY doc_id)) AS s
           FROM enc WHERE len(token_ids) > 0),
         packs AS (
           SELECT CAST(k AS BIGINT) AS seq_idx,
             s[CAST(k*64 + 1 AS BIGINT) : CAST(k*64 + 64 AS BIGINT)] AS pids
           FROM stream, unnest(range(0,
             CAST(ceil(len(s) / 64.0) AS BIGINT))) AS t(k))
         SELECT seq_idx, array_to_string(pids, ' ') AS token_ids
         FROM packs WHERE len(pids) >= 8""",

    "bpe_pair_counts" ->
      """WITH words AS (
           SELECT w AS word, count(*) AS wc FROM (
             SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS w
             FROM documents)
           GROUP BY w),
         syms AS (
           SELECT wc, list_append(string_split(word, ''), '</w>') AS s
           FROM words),
         p AS (
           SELECT s[CAST(i AS BIGINT)] AS left_sym,
             s[CAST(i + 1 AS BIGINT)] AS right_sym, wc
           FROM syms, unnest(range(1, len(s))) AS t(i))
         SELECT left_sym, right_sym, CAST(sum(wc) AS BIGINT) AS pair_count
         FROM p GROUP BY 1, 2
         ORDER BY pair_count DESC, left_sym, right_sym LIMIT 20""",

    "dedup_span" ->
      """WITH s AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS ws
           FROM documents),
         w AS (SELECT doc_id, ws FROM s WHERE len(ws) > 0),
         g AS (
           SELECT doc_id, CAST(p AS INT) AS pos,
             array_to_string(ws[CAST(p + 1 AS BIGINT):CAST(p + 8 AS BIGINT)], ' ') AS gram
           FROM w, unnest(range(0, len(ws) - 8 + 1)) AS t(p)),
         losers AS (
           SELECT doc_id, pos FROM (
             SELECT doc_id, pos,
               row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
             FROM g) WHERE rn > 1),
         cov AS (
           SELECT DISTINCT doc_id, CAST(c AS INT) AS cp
           FROM losers, unnest(range(pos, pos + 8)) AS t(c)),
         wp AS (
           SELECT doc_id, unnest(ws) AS word,
             CAST(generate_subscripts(ws, 1) - 1 AS INT) AS wpos
           FROM w),
         kept AS (
           SELECT doc_id, word, wpos FROM wp
           WHERE NOT EXISTS (SELECT 1 FROM cov
             WHERE cov.doc_id = wp.doc_id AND cov.cp = wp.wpos))
         SELECT doc_id, string_agg(word, ' ' ORDER BY wpos) AS text,
           CAST(count(*) AS INT) AS n_words_kept
         FROM kept GROUP BY doc_id""",

    // toGregorian's 33-year-cycle day count, transliterated: the algorithm's
    // Gregorian reconstruction equals proleptic-Gregorian date arithmetic at
    // a fixed epoch offset (day 719528 = 1970-01-01; verified exhaustively
    // for jy 1300-1500 against graft.text.JalaliDate)
    "jalali_convert" ->
      """WITH j AS (
           SELECT o_orderkey,
             1390 + (o_orderkey % 15) AS jy,
             1 + (o_orderkey % 12) AS jm,
             1 + (o_orderkey % 28) AS jd
           FROM orders),
         c AS (
           SELECT *, jy + 1595 AS y2,
             CASE WHEN jm < 7 THEN (jm - 1) * 31
                  ELSE (jm - 7) * 30 + 186 END AS moff
           FROM j),
         d AS (
           SELECT *, -355668 + 365 * y2 + (y2 // 33) * 8 +
             ((y2 % 33) + 3) // 4 + jd + moff AS days
           FROM c)
         SELECT o_orderkey,
           printf('%04d/%02d/%02d', jy, jm, jd) AS shamsi,
           strftime(DATE '1970-01-01' + CAST(days - 719528 AS INT),
             '%Y/%m/%d') AS gregorian
         FROM d""",

    "url_canonicalize" ->
      """SELECT o_orderkey,
         'https://h' || (o_orderkey % 8) || '.example.ir/a/Detail?IdeaId=' ||
           o_orderkey || '&z=' || o_orderkey AS canonical_url,
         sha256('https://h' || (o_orderkey % 8) || '.example.ir/a/Detail?IdeaId=' ||
           o_orderkey || '&z=' || o_orderkey) AS url_key
         FROM orders""",

    "dedup_minhash_lsh" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
         CAST(1.0 AS DOUBLE) AS jaccard FROM documents
         WHERE len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
           x -> len(x) > 0)) > 0""",

    "dedup_simhash" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
         CAST(0 AS INT) AS hamming FROM documents""",

    "dedup_incremental_lsh" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b,
         CAST(1.0 AS DOUBLE) AS jaccard FROM documents
         WHERE len(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
           x -> len(x) > 0)) > 0""",

    "dedup_cluster_assign" ->
      """SELECT doc_id AS id, doc_id AS cluster_rep FROM documents
         UNION ALL
         SELECT doc_id + 100000 AS id, doc_id AS cluster_rep FROM documents
         UNION ALL
         SELECT doc_id + 200000 AS id, doc_id AS cluster_rep FROM documents
         WHERE doc_id % 2 = 0""",

    "k4_csv_roundtrip" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer",

    "k5_sections" ->
      """SELECT t.doc_id, CAST(i.i - 1 AS INT) AS section_idx,
         t.parts[CAST(i.i AS INT)] AS section_text
         FROM (SELECT doc_id,
               string_split(text || '##' || lang || '##' || source, '##') AS parts
               FROM documents) t,
         LATERAL (SELECT unnest(generate_series(1, len(t.parts))) AS i) i""",

    "k5_render" ->
      """WITH esc AS (SELECT doc_id, text || '##' || lang AS content FROM documents)
         SELECT doc_id,
         '<!DOCTYPE html>' || chr(10) ||
         '<html><head><meta charset="utf-8"><title>Doc ' || doc_id ||
         '</title></head>' || chr(10) ||
         '<body data-doc="' || doc_id || '" data-fp="' ||
         base64(encode(md5(content))) || '">' || chr(10) ||
         array_to_string(list_transform(string_split(content, '##'),
           s -> '<div class="section"><p>' ||
                replace(replace(replace(replace(s, '&', '&amp;'), '<', '&lt;'),
                        '>', '&gt;'), '"', '&quot;') || '</p></div>'), chr(10)) ||
         chr(10) || '</body></html>' AS html
         FROM esc""",

    "k6_chunk_assign" ->
      """SELECT o_orderkey, o_custkey,
         CAST((row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) - 1)
           // 7 AS INT) AS chunk
         FROM orders""",

    "search_bm25_topk" ->
      s"""$bm25ScoredCte
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM scored WHERE score >= 1.0)
         WHERE rank <= 10""",

    "search_batch_stats" ->
      s"""$bm25ScoredCte
         SELECT CAST(q.query_id AS BIGINT) AS query_id,
           coalesce(s.tc, 0) AS total_count,
           least(coalesce(s.tc, 0), 5) AS relevant_count,
           s.ms AS max_score
         FROM queries q LEFT JOIN (
           SELECT query_id, count(*) AS tc, round(max(score), 6) AS ms
           FROM scored WHERE score >= 1.0 GROUP BY 1) s USING (query_id)""",

    "search_bm25_indexed" ->
      s"""$bm25ScoredCte
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM scored WHERE score >= 1.0)
         WHERE rank <= 10""",

    // index-build-then-append must reproduce the full-corpus result — the
    // oracle is deliberately the same SQL as search_bm25_topk/indexed
    "search_bm25_index_append" ->
      s"""$bm25ScoredCte
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM scored WHERE score >= 1.0)
         WHERE rank <= 10""",

    "search_bm25_phrase" ->
      """WITH docs3 AS (
           SELECT doc_id,
             array_to_string(toks[1:8], ' ') AS question,
             array_to_string(toks[9:20], ' ') AS answer,
             array_to_string(toks[21:len(toks)], ' ') AS content
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         fields(field, boost) AS (VALUES ('question', CAST(5.0 AS DOUBLE)),
           ('answer', CAST(3.0 AS DOUBLE)), ('content', CAST(2.0 AS DOUBLE))),
         ftext AS (
           SELECT d.doc_id, f.field,
             trim(regexp_replace(lower(CASE f.field
               WHEN 'question' THEN d.question
               WHEN 'answer' THEN d.answer
               ELSE d.content END), '\s+', ' ', 'g')) AS txt
           FROM docs3 d, fields f),
         tok AS (SELECT doc_id, field, unnest(string_split(txt, ' ')) AS term FROM ftext),
         tok2 AS (SELECT * FROM tok WHERE len(term) > 0),
         tf AS (SELECT field, doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1, 2, 3),
         dlen AS (SELECT field, doc_id, count(*) AS dl FROM tok2 GROUP BY 1, 2),
         stats AS (SELECT field, term, count(*) AS df FROM tf GROUP BY 1, 2),
         avgl AS (SELECT field, avg(dl) AS avgdl FROM dlen GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         phraseq(query_id, phrase) AS (VALUES (1, 'hash join'),
           (2, 'window agg'), (2, 'fast spark'), (2, 'big table'),
           (3, 'data query'), (3, 'slow row'), (3, 'sort column'),
           (3, 'merge batch'), (3, 'stream group'), (3, 'key scan'),
           (4, 'vector')),
         phr AS (SELECT DISTINCT query_id,
             trim(regexp_replace(lower(phrase), '\s+', ' ', 'g')) AS phrase
           FROM phraseq WHERE len(trim(phrase)) > 0),
         pterm AS (SELECT query_id, phrase,
             unnest(string_split(phrase, ' ')) AS term FROM phr),
         matched AS (
           SELECT p.query_id, p.phrase, t.field, t.doc_id
           FROM ftext t, phr p
           WHERE contains(' ' || t.txt || ' ', ' ' || p.phrase || ' ')),
         ct AS (SELECT m.query_id, m.phrase, m.field, m.doc_id, p.term
           FROM matched m JOIN pterm p
             ON p.query_id = m.query_id AND p.phrase = m.phrase),
         scored AS (
           SELECT c.query_id, c.doc_id,
             round(sum(fb.boost
               * ln(CAST(1.0 AS DOUBLE) + (n.n - s.df + CAST(0.5 AS DOUBLE))
                    / (s.df + CAST(0.5 AS DOUBLE)))
               * t.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))
               / (t.tf + CAST(1.2 AS DOUBLE)
                  * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
                     + CAST(0.75 AS DOUBLE) * dl.dl / a.avgdl))), 6) AS score
           FROM ct c
           JOIN tf t ON t.field = c.field AND t.doc_id = c.doc_id AND t.term = c.term
           JOIN stats s ON s.field = c.field AND s.term = c.term
           JOIN dlen dl ON dl.field = c.field AND dl.doc_id = c.doc_id
           JOIN avgl a ON a.field = c.field
           JOIN fields fb ON fb.field = c.field
           CROSS JOIN n
           GROUP BY 1, 2),
         pc AS (SELECT query_id, count(*) AS np FROM phr GROUP BY 1),
         flo AS (SELECT s.query_id, s.doc_id, s.score
           FROM scored s JOIN pc ON pc.query_id = s.query_id
           WHERE s.score >= CASE WHEN pc.np > 5 THEN CAST(2.0 AS DOUBLE)
             WHEN pc.np > 2 THEN CAST(2.5 AS DOUBLE)
             ELSE CAST(1.5 AS DOUBLE) END)
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank FROM (
           SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           FROM flo)
         WHERE rank <= 10""",

    "multimodal_frames" ->
      """WITH media AS (
           SELECT doc_id,
             sha256(CAST(doc_id AS VARCHAR) || '-payload') AS payload,
             CASE WHEN doc_id % 3 = 2 THEN (doc_id % 20 + 1) * 700 ELSE 0 END
               AS duration_ms
           FROM documents
           WHERE doc_id % 3 = 2),
         frames AS (
           SELECT doc_id, payload, CAST(t.f AS INT) AS frame_idx
           FROM media,
             unnest(range(0, CAST(floor((duration_ms - 1) / 1000.0) AS BIGINT) + 1)) AS t(f)
           WHERE duration_ms > 0)
         SELECT doc_id, frame_idx,
           CAST(frame_idx AS BIGINT) * 1000 AS frame_ts_ms,
           sha256(payload || CAST(frame_idx AS VARCHAR)) AS frame_payload
         FROM frames""",

    "multimodal_image_meta" ->
      """SELECT doc_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
             ELSE 'jpeg' END AS img_format,
           CAST(doc_id % 300 + 16 AS INT) AS img_width,
           CAST(doc_id % 200 + 16 AS INT) AS img_height
         FROM documents""",

    "multimodal_audio_meta" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN 'unknown' ELSE 'wav' END AS audio_format,
           CASE WHEN doc_id % 7 = 0 THEN NULL
             ELSE CAST(doc_id % 2 + 1 AS INT) END AS audio_channels,
           CASE WHEN doc_id % 7 = 0 THEN NULL
             ELSE CAST((doc_id % 4 + 1) * 8000 AS INT) END AS audio_sample_rate,
           CASE WHEN doc_id % 7 = 0 THEN NULL
             ELSE CAST((doc_id % 3 + 1) * 8 AS INT) END AS audio_bits,
           CASE WHEN doc_id % 7 = 0 THEN NULL
             ELSE CAST(floor((doc_id % 3000 + 1) * 10 * 1000.0 /
               ((doc_id % 4 + 1) * 8000)) AS BIGINT) END AS audio_duration_ms
         FROM documents""",

    "multimodal_video_meta" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN 'unknown' ELSE 'mp4' END AS video_format,
           CASE WHEN doc_id % 7 = 0 THEN NULL
             ELSE CAST(doc_id % 300 + 16 AS INT) END AS video_width,
           CASE WHEN doc_id % 7 = 0 THEN NULL
             ELSE CAST(doc_id % 200 + 16 AS INT) END AS video_height,
           CASE WHEN doc_id % 7 = 0 THEN NULL
             ELSE CAST(((doc_id % 50 + 1) * 500 * 1000) //
               (CASE WHEN doc_id % 2 = 1 THEN 600 ELSE 1000 END) AS BIGINT)
             END AS video_duration_ms
         FROM documents""",

    "multimodal_mp3_meta" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN 'unknown' ELSE 'mp3' END AS audio_format,
           CASE WHEN doc_id % 7 = 0 THEN NULL
             WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END::INT AS audio_channels,
           CASE WHEN doc_id % 7 = 0 THEN NULL ELSE
             (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100
               WHEN 1 THEN 48000 ELSE 32000 END
              // (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END))
           END::INT AS audio_sample_rate,
           CASE WHEN doc_id % 7 = 0 THEN NULL
             WHEN doc_id % 11 = 5 THEN
               -- Xing rows: average bitrate over the exact duration
               1632 // ((doc_id % 90 + 1)
                 * (CASE WHEN doc_id % 2 = 0 THEN 1152 ELSE 576 END) * 1000
                 // ((CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100
                      WHEN 1 THEN 48000 ELSE 32000 END)
                    // (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END)))
             ELSE
             list_extract(
               CASE WHEN doc_id % 2 = 0
                 THEN [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                 ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160] END,
               CAST(doc_id % 14 + 1 AS INT))
           END::INT AS audio_bitrate_kbps,
           CASE WHEN doc_id % 7 = 0 THEN NULL
             WHEN doc_id % 11 = 5 THEN 1 ELSE 0 END::INT AS audio_vbr,
           CASE WHEN doc_id % 7 = 0 THEN NULL
             WHEN doc_id % 11 = 5 THEN
               -- exact: frames * samples-per-frame * 1000 / rate
               (doc_id % 90 + 1)
                 * (CASE WHEN doc_id % 2 = 0 THEN 1152 ELSE 576 END) * 1000
                 // ((CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 44100
                      WHEN 1 THEN 48000 ELSE 32000 END)
                    // (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END))
             ELSE
             1632 // list_extract(
               CASE WHEN doc_id % 2 = 0
                 THEN [32,40,48,56,64,80,96,112,128,160,192,224,256,320]
                 ELSE [8,16,24,32,40,48,56,64,80,96,112,128,144,160] END,
               CAST(doc_id % 14 + 1 AS INT))
           END::BIGINT AS audio_duration_ms
         FROM documents""",

    "multimodal_exif_orientation" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 OR doc_id % 5 = 0 THEN NULL
             ELSE CAST(doc_id % 8 + 1 AS INT) END AS img_orientation
         FROM documents""",

    "warc_parse" ->
      """SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
           CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
           text AS body
         FROM documents""",

    "text_lang_id" ->
      """SELECT CASE WHEN length(regexp_replace(text, '[^a-zA-Zа-яА-Я؀-ۿ]', '', 'g')) = 0
           THEN 'unknown' ELSE 'latin' END AS pred_lang, count(*) AS n
         FROM documents GROUP BY 1""",

    "text_quality" ->
      """SELECT doc_id,
         len(toks) AS n_tokens,
         round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / greatest(len(toks), 1), 6) AS mean_word_len,
         round(CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1), 6) AS punct_ratio,
         round(CAST(len(list_filter(toks, x -> list_contains(
             ['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
               / greatest(len(toks), 1), 6) AS stopword_ratio
         FROM (SELECT doc_id, text,
               list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0) AS toks
               FROM documents)""",

    "text_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
         FROM documents""",

    "text_token_count" ->
      """SELECT doc_id, len(list_filter(regexp_split_to_array(text, '\s+'),
         x -> len(x) > 0)) AS n_ws_tokens FROM documents""",

    "text_repetition" ->
      """WITH base AS (
           SELECT doc_id, text, replace(text, ' ', chr(10)) AS t2 FROM documents),
         lines AS (
           SELECT doc_id, list_filter(list_transform(string_split(t2, chr(10)),
             l -> trim(l)), l -> len(l) > 0) AS ls FROM base),
         linefrac AS (
           SELECT doc_id, CASE WHEN len(ls) > 0
             THEN 1.0 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls)
             ELSE 0.0 END AS dup_line_frac FROM lines),
         wordsarr AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
             w -> len(w) > 0) AS ws FROM base),
         words AS (SELECT doc_id, unnest(ws) AS w FROM wordsarr),
         wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2),
         topw AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_word_frac
                  FROM wc GROUP BY 1),
         grams AS (
           SELECT doc_id, ws[CAST(i AS INT) + 1] || ' ' || ws[CAST(i AS INT) + 2]
             || ' ' || ws[CAST(i AS INT) + 3] AS g
           FROM (SELECT doc_id, ws, unnest(range(len(ws) - 2)) AS i
                 FROM wordsarr WHERE len(ws) >= 3)),
         gramfrac AS (
           SELECT doc_id, 1.0 - CAST(count(DISTINCT g) AS DOUBLE) / count(*)
             AS dup_3gram_frac FROM grams GROUP BY 1)
         SELECT b.doc_id,
           round(l.dup_line_frac, 6) AS dup_line_frac,
           round(coalesce(t.top_word_frac, 0.0), 6) AS top_word_frac,
           round(coalesce(g.dup_3gram_frac, 0.0), 6) AS dup_3gram_frac
         FROM base b
         JOIN linefrac l USING (doc_id)
         LEFT JOIN topw t USING (doc_id)
         LEFT JOIN gramfrac g USING (doc_id)""",

    "text_lm_score" ->
      """WITH canon AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
           FROM documents),
         tg AS (
           SELECT doc_id, substr(t, CAST(i AS INT), 3) AS gram FROM (
             SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
             FROM canon WHERE len(t) >= 3)),
         train AS (SELECT gram, count(*) AS c FROM tg WHERE doc_id % 2 = 0 GROUP BY 1),
         pref AS (SELECT substr(gram, 1, 2) AS p, sum(c) AS pc FROM train GROUP BY 1),
         model AS (SELECT gram, ln(CAST(c AS DOUBLE) / CAST(pc AS DOUBLE)) AS logp
                   FROM train JOIN pref ON substr(gram, 1, 2) = p),
         scored AS (SELECT g.doc_id, coalesce(m.logp, ln(CAST(1e-9 AS DOUBLE))) AS lp
                    FROM tg g LEFT JOIN model m USING (gram))
         SELECT d.doc_id, round(avg(s.lp), 6) AS avg_logp, count(s.lp) AS n_grams
         FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
         GROUP BY d.doc_id""",

    "mix_sample_split" ->
      """WITH draws AS (
           SELECT doc_id, source,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 8)
               AS BIGINT) AS DOUBLE) / CAST(4294967296.0 AS DOUBLE) AS u_mix,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 8)
               AS BIGINT) AS DOUBLE) / CAST(4294967296.0 AS DOUBLE) AS u_split
           FROM documents),
         sampled AS (
           SELECT * FROM draws WHERE u_mix <
             CASE source WHEN 'src0' THEN CAST(0.0 AS DOUBLE)
               WHEN 'src1' THEN CAST(0.25 AS DOUBLE)
               WHEN 'src2' THEN CAST(0.5 AS DOUBLE)
               ELSE CAST(0.75 AS DOUBLE) END)
         SELECT doc_id, source,
           CASE WHEN u_split < CAST(0.1 AS DOUBLE) THEN 'val'
                WHEN u_split < CAST(0.1 AS DOUBLE) + CAST(0.2 AS DOUBLE) THEN 'test'
                ELSE 'train' END AS split
         FROM sampled""",

    "text_pii_redact" ->
      """WITH p AS (
           SELECT doc_id, text ||
             CASE WHEN doc_id % 3 = 0
               THEN ' contact u' || doc_id || '@example.org' ELSE '' END ||
             CASE WHEN doc_id % 4 = 0
               THEN ' from 10.2.' || (doc_id % 256) || '.7' ELSE '' END ||
             CASE WHEN doc_id % 5 = 0
               THEN ' tel +1-555-01' || (doc_id % 100) ELSE '' END AS t
           FROM documents)
         SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g'),
             '\+[0-9][0-9-]{6,}[0-9]', '[PHONE]', 'g') AS text_redacted,
           len(regexp_extract_all(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(t,
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ips,
           len(regexp_extract_all(t, '\+[0-9][0-9-]{6,}[0-9]')) AS n_phones
         FROM p""",

    "curate_source_cap" ->
      """SELECT doc_id, text, lang, source, n_chars FROM (
           SELECT doc_id, text, lang, source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents) WHERE rn <= 10""",

    "decontaminate_stats" ->
      """WITH w AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
             x -> len(x) > 0) AS ws FROM documents),
         g AS (
           SELECT doc_id,
             array_to_string(ws[CAST(i AS INT) + 1 : CAST(i AS INT) + 5], ' ') AS gram
           FROM (SELECT doc_id, ws, unnest(range(len(ws) - 4)) AS i
                 FROM w WHERE len(ws) >= 5)),
         bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
         hits AS (
           SELECT g.doc_id, count(*) AS n_grams, count(bg.gram) AS n_contaminated
           FROM g LEFT JOIN bg ON g.gram = bg.gram GROUP BY 1)
         SELECT d.doc_id,
           coalesce(h.n_grams, 0) AS n_grams,
           coalesce(h.n_contaminated, 0) AS n_contaminated,
           coalesce(h.n_contaminated, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""",

    // expected fields derived analytically — never framed (see warc_parse)
    "warc_roundtrip" ->
      """SELECT 'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
           CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
           text AS body_text
         FROM documents""",

    // the same Cho–Garcia-Molina estimator: per-(url, round) dedup to the
    // min non-null hash, IGNORE NULLS pairing so failed rounds don't break
    // the chain, smoothed -ln MLE, Poisson staleness (never-observed urls
    // pin at 1.0); every double rounded 6dp before comparison
    "recrawl_schedule" ->
      """WITH ids AS (SELECT CAST(o_orderkey AS BIGINT) AS n FROM orders WHERE o_orderkey < 9000),
         h AS (SELECT concat('u', CAST(n % 300 AS VARCHAR)) AS url_key,
                 n // 300 AS round,
                 CASE WHEN n % 41 = 0 THEN NULL
                      ELSE md5(concat('u', CAST(n % 300 AS VARCHAR), '-',
                        CAST((n // 300) // (1 + (n % 300) % 7) AS VARCHAR))) END AS content_hash
               FROM ids),
         d AS (SELECT url_key, round, content_hash FROM h
               QUALIFY row_number() OVER (PARTITION BY url_key, round
                 ORDER BY content_hash ASC NULLS LAST) = 1),
         p AS (SELECT url_key, round, content_hash,
                 last_value(content_hash IGNORE NULLS) OVER (PARTITION BY url_key
                   ORDER BY round ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING) AS prev
               FROM d),
         s AS (SELECT url_key, count(content_hash) AS n_obs,
                 CAST(sum(CASE WHEN content_hash IS NOT NULL AND prev IS NOT NULL
                   AND prev <> content_hash THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
                 min(CASE WHEN content_hash IS NOT NULL THEN round END) AS first_round,
                 max(CASE WHEN content_hash IS NOT NULL THEN round END) AS last_round,
                 max(round) AS last_attempt_round
               FROM p GROUP BY 1),
         r AS (SELECT *, CASE WHEN n_obs >= 2 AND last_round > first_round THEN
                 round(-ln((CAST(n_obs - 1 AS DOUBLE) - n_changes + CAST(0.5 AS DOUBLE))
                     / (CAST(n_obs - 1 AS DOUBLE) + CAST(0.5 AS DOUBLE)))
                   / (CAST(last_round - first_round AS DOUBLE)
                     / CAST(n_obs - 1 AS DOUBLE)), 6)
                 END AS change_rate FROM s)
         SELECT url_key, n_obs, n_changes, first_round, last_round,
           last_attempt_round, change_rate,
           CASE WHEN n_obs = 0 THEN CAST(1.0 AS DOUBLE)
             ELSE round(CAST(1.0 AS DOUBLE) - exp(-coalesce(change_rate, CAST(0.1 AS DOUBLE))
               * CAST(greatest(40 - last_round, 0) AS DOUBLE)), 6) END AS p_stale,
           -(CASE WHEN n_obs = 0 THEN CAST(1.0 AS DOUBLE)
             ELSE round(CAST(1.0 AS DOUBLE) - exp(-coalesce(change_rate, CAST(0.1 AS DOUBLE))
               * CAST(greatest(40 - last_round, 0) AS DOUBLE)), 6) END) AS priority
         FROM r""",

    // multinomial NB retrained from scratch: shared-vocab add-1 smoothing,
    // token-free docs score exactly their prior, argmax ties break to the
    // lexicographically larger label (mirrors Spark's max(struct(score,
    // label))); score rounded to 6dp on both sides before the argmax
    "text_classify_nb" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
             x -> len(x) > 0)) AS token
           FROM documents),
         train AS (
           SELECT t.doc_id, d.source AS label, t.token
           FROM toks t JOIN documents d USING (doc_id) WHERE d.doc_id % 2 = 0),
         counts AS (SELECT label, token, count(*) AS c FROM train GROUP BY 1, 2),
         v AS (SELECT CAST(count(DISTINCT token) AS DOUBLE) AS v FROM counts),
         totals AS (SELECT label, CAST(sum(c) AS DOUBLE) AS tc FROM counts GROUP BY 1),
         lik AS (SELECT label, token,
                   ln((CAST(c AS DOUBLE) + CAST(1.0 AS DOUBLE)) / (tc + v.v)) AS loglik
                 FROM counts JOIN totals USING (label), v),
         nd AS (SELECT CAST(count(*) AS DOUBLE) AS n
                FROM documents WHERE doc_id % 2 = 0),
         priors AS (SELECT p.label, ln(p.dn / nd.n) AS logprior,
                      ln(CAST(1.0 AS DOUBLE) / (totals.tc + v.v)) AS unseen_loglik
                    FROM (SELECT source AS label, CAST(count(*) AS DOUBLE) AS dn
                          FROM documents WHERE doc_id % 2 = 0 GROUP BY 1) p
                    JOIN totals USING (label), v, nd),
         persco AS (
           SELECT t.doc_id, p.label,
             sum(coalesce(l.loglik, p.unseen_loglik)) AS tsum
           FROM toks t CROSS JOIN priors p
           LEFT JOIN lik l ON l.label = p.label AND l.token = t.token
           GROUP BY 1, 2),
         scored AS (
           SELECT d.doc_id, p.label,
             round(p.logprior + coalesce(ps.tsum, CAST(0.0 AS DOUBLE)), 6) AS score
           FROM documents d CROSS JOIN priors p
           LEFT JOIN persco ps ON ps.doc_id = d.doc_id AND ps.label = p.label)
         SELECT doc_id, label AS predicted, score FROM scored
         QUALIFY row_number() OVER (PARTITION BY doc_id
           ORDER BY score DESC, label DESC) = 1"""
  )
}
