package graft

import org.apache.spark.sql.SparkSession

/** N-vs-4N scaling evidence for the QUERY suite's heavy tail (the
  * LLM-pipeline operators) — the crawl path has ScalingBench; this gives
  * the same treatment to the heaviest SparkEntry queries: each query runs
  * warm then probe-gated at local[4] and local[16] on the same sf dir, and
  * the JSON reports per-query efficiency t_N / (4 · t_4N) plus the F/W
  * decomposition (t = F + W/cores solved from the two points: W =
  * 16(t4 − t16)/3, F = t4 − W/4) so a low efficiency can be attributed to
  * fixed job/driver cost vs core-bound work, exactly like ScalingBench §B.
  *
  * Run via scripts/bench.sh (raw JVM — a live sbt poisons timings):
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 scripts/bench.sh graft.QueryScale
  */
object QueryScale {

  private def session(cores: Int): SparkSession =
    Bench.benchSession(cores, localDirName = s"graft-qscale-$cores")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("pipeline_curate_delta", "search_bm25_topk",
        "dedup_incremental_lsh", "pipeline_curate_stream", "search_bm25_phrase"))

    // ONE FRESH SESSION PER (query, cores): the heavy queries
    // localCheckpoint intermediates that live for the session — a shared
    // session times later queries against the earlier ones' resident
    // blocks and eviction churn (observed: search_bm25_topk 31s polluted
    // vs 6.4s in a clean session at local[4]). Session startup is outside
    // the timed region; the in-session warm run covers JIT + footers.
    // a query that CRASHES must not be published as a certified timing:
    // exceptions propagate out of the gated block and the query's row is
    // emitted as failed (excluded from eff/F-W) instead of silently timing
    // the failed attempt
    def measure(cores: Int, name: String): Option[(Double, Boolean)] = {
      val spark = session(cores)
      try {
        SparkEntry.queries(name)(spark, sfDir).count() // warm
        Some(BenchGate.gated(s"qscale:$name@$cores", cores,
          maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1, maxWaits = 8) {
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        })
      } catch { case scala.util.control.NonFatal(e) =>
        Console.err.println(s"[qscale] $name@$cores FAILED: $e")
        None
      } finally spark.stop()
    }

    val at4 = queries.map(q => q -> measure(4, q)).toMap
    val at16 = queries.map(q => q -> measure(16, q)).toMap

    // ---- operator-isolated rows (the ExtractScale lesson applied to the
    // query tail): a SparkEntry query times its oracle-FIXTURE construction
    // (corpus, persisted index, localCheckpoint barriers) together with the
    // operator. For the repeated-call paths that actually matter at scale —
    // the daily curateDelta fold and the per-query-batch index probe — the
    // fixture is prebuilt OUTSIDE the gate and only the operator is timed.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    // SPARK_GRAFT_ISOLATED filters which isolated ops run (both by default)
    val isoFilter = sys.env.get("SPARK_GRAFT_ISOLATED")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def isoOn(name: String): Boolean = isoFilter.forall(_.contains(name))
    def isolatedOps(cores: Int): Map[String, (Double, Boolean)] = {
      val spark = session(cores)
      try {
        import spark.implicits._
        def t(name: String): DataFrame =
          spark.read.parquet(s"$sfDir/$name.parquet")
        val out = scala.collection.mutable.Map.empty[String, (Double, Boolean)]

        // curate_delta_op: corpus/base/index/delta prebuilt + checkpointed.
        // SPARK_GRAFT_CURATE_DOCS scales the corpus (default 4000 docs;
        // delta = 3x corpus) — the size sweep evidences eff(size) rising
        // as W outgrows the fixed job-launch cost, like ScalingBench §B
        if (isoOn("curate_delta_op")) {
        val curateDocs = sys.env.getOrElse("SPARK_GRAFT_CURATE_DOCS", "4000").toInt
        val ids = t("orders").filter(col("o_orderkey") < curateDocs)
          .select(col("o_orderkey").cast("long").as("doc_id"))
        def forest(seed: String) = array_join(transform(sequence(lit(0), lit(39)),
          j => substring(md5(concat(col("doc_id").cast("string"), lit(seed),
            j.cast("string"))), 1, 8)), " ")
        val d = ids.select(col("doc_id"), forest("-").as("text"))
          .localCheckpoint(true)
        val cfgC = graft.ops.Curation.Config(langs = Set("latin"),
          minTokens = 10, maxTokens = 200, jaccardThreshold = 0.9)
        val corpusExact = graft.ops.Curation.dedupBase(d, "doc_id", "text", cfgC)
          .localCheckpoint(true)
        val index = graft.ops.Dedup.lshBandIndex(corpusExact, "text", "doc_id",
          cfgC.minhashHashes, cfgC.minhashBands, cfgC.shingleSize)
          .localCheckpoint(true)
        val delta = d.select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
          .union(d.select((col("doc_id") + 20000000L).as("doc_id"),
            concat(col("text"), lit(" "), col("text")).as("text")))
          .union(ids.select((col("doc_id") + 30000000L).as("doc_id"))
            .select(col("doc_id"), forest("-f-").as("text")))
          .localCheckpoint(true)
        def runDelta(): Long = graft.ops.Curation.curateDelta(
          corpusExact, index, delta, "doc_id", "text", cfgC).count()
        runDelta() // warm
        out += "curate_delta_op" -> BenchGate.gated(s"op:curate_delta@$cores",
          cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
          val t0 = System.nanoTime(); runDelta(); (System.nanoTime() - t0) / 1e9
        }
        }

        // para_dedup_op: corpus-wide paragraph dedup at a configurable
        // corpus size (SPARK_GRAFT_PARA_DOCS, default 200k docs of 12
        // lines: ~30% hot boilerplate drawn from a 50-line pool — the
        // WindowGroupLimit pushdown's target shape — and the rest unique).
        // The D4 gate row was fixture-sized; this is the corpus-sized
        // certification of the W-dominated regime.
        if (isoOn("para_dedup_op")) {
          val paraDocs = sys.env.getOrElse("SPARK_GRAFT_PARA_DOCS", "200000").toLong
          val docsP = spark.range(0L, paraDocs, 1L, cores).toDF("doc_id")
            .select(col("doc_id"), array_join(
              transform(sequence(lit(0), lit(11)), j => {
                val r = abs(xxhash64(col("doc_id"), j))
                when(pmod(r, lit(10L)) < 3L,
                  concat(lit("boilerplate line "), pmod(r, lit(50L))))
                  .otherwise(md5(concat(col("doc_id"), lit("-"), j)))
              }), "\n").as("text"))
            .localCheckpoint(true)
          def runPara(): Long =
            graft.ops.Dedup.paragraphDedup(docsP, "text", "doc_id").count()
          runPara() // warm
          out += "para_dedup_op" -> BenchGate.gated(s"op:para_dedup@$cores",
            cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
            val t0 = System.nanoTime(); runPara()
            (System.nanoTime() - t0) / 1e9
          }
        }

        // the shared Zipfian BPE corpus (the sf tables' documents text has
        // only ~31 distinct words — a degenerate BPE input): tens of
        // thousands of distinct hex-charset words with a skewed frequency
        // distribution, built + checkpointed OUTSIDE the gates; one
        // definition for both trainer rows so an A/B always compares the
        // same input
        def bpeCorpus(): DataFrame = {
          val distinctWords = 30000L
          spark.range(0L, 100000L, 1L, cores)
            .toDF("doc_id")
            .select(col("doc_id"), array_join(
              transform(sequence(lit(0), lit(11)), j => {
                val r = abs(xxhash64(col("doc_id"), j))
                val idx = pmod(r, lit(1L) + pmod(r, lit(distinctWords)))
                md5(idx.cast("string"))
                  .substr(lit(1), (lit(3) + pmod(idx, lit(6L))).cast("int"))
              }), " ").as("text"))
            .localCheckpoint(true)
        }

        // bpe_train_op: the batched-exact BPE trainer end-to-end (one
        // corpus word-frequency pass + O(merges/batch) merge iterations)
        // — the scale row for the one operator whose r4 design didn't
        // survive its production parameter
        if (isoOn("bpe_train_op")) {
          val docsB = bpeCorpus()
          // SPARK_GRAFT_BPE_SEQ=1 times the classic one-merge-per-job loop
          // instead (maxBatch=1) — the A/B that evidences the batching win
          val mb = if (sys.env.contains("SPARK_GRAFT_BPE_SEQ")) 1 else 64
          val nm = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "512").toInt
          def runTrain(): Int = {
            val m = graft.ops.Tokenize.bpeTrain(docsB, "text",
              numMerges = nm, minPairCount = 2L, maxBatch = mb)
            Console.err.println(s"[qscale] bpe_train_op merges=${m.merges.size} " +
              s"iterations=${m.trainIterations} maxBatch=$mb")
            m.merges.size
          }
          runTrain() // warm
          out += "bpe_train_op" -> BenchGate.gated(s"op:bpe_train@$cores",
            cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
            val t0 = System.nanoTime(); runTrain()
            (System.nanoTime() - t0) / 1e9
          }
        }

        // bpe_train_local_op: the driver-local trainer on the SAME corpus
        // — numMerges-independent Spark job count (one word-table pass +
        // collect, then driver CPU). The at-32k-merges scale exhibit: time
        // this at SPARK_GRAFT_BPE_MERGES=4096+ against bpe_train_op.
        if (isoOn("bpe_train_local_op")) {
          val docsB = bpeCorpus()
          val nm = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "512").toInt
          def runLocal(): Int = {
            val m = graft.ops.Tokenize.bpeTrainLocal(docsB, "text",
              numMerges = nm, minPairCount = 2L)
            val segRows = m.segments.count() // materialize the model
            Console.err.println(s"[qscale] bpe_train_local_op merges=${m.merges.size} " +
              s"segments=$segRows")
            m.merges.size
          }
          runLocal() // warm
          out += "bpe_train_local_op" -> BenchGate.gated(s"op:bpe_train_local@$cores",
            cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
            val t0 = System.nanoTime(); runLocal()
            (System.nanoTime() - t0) / 1e9
          }
        }

        // classify_score_op: NB classifier SCORING at corpus size — the
        // repeated path at scale (the model trains once on labeled seeds;
        // the full corpus is scored every ingest). Corpus =
        // SPARK_GRAFT_CLASSIFY_DOCS docs (default 400k) × 40 tokens drawn
        // from a 2000-word per-label vocab (model = 2 labels × ≤4000
        // tokens, always broadcastable); model trained on a 20k-doc seed
        // slice and CHECKPOINTED outside the gate; timed region =
        // scoreNb → per-doc argmax over the whole corpus.
        if (isoOn("classify_score_op")) {
          val nDocs = sys.env.getOrElse("SPARK_GRAFT_CLASSIFY_DOCS", "400000").toLong
          val docsC = spark.range(0L, nDocs, 1L, cores).toDF("doc_id")
            .select(col("doc_id"),
              when(pmod(col("doc_id"), lit(2L)) === 0L, lit("good"))
                .otherwise(lit("bad")).as("label"))
            .select(col("doc_id"), col("label"), array_join(
              transform(sequence(lit(0), lit(39)), j => {
                val r = abs(xxhash64(col("doc_id"), j))
                substring(md5(concat(col("label"),
                  pmod(r, lit(2000L)).cast("string"))), 1, 6)
              }), " ").as("text"))
            .localCheckpoint(true)
          val m0 = graft.ops.Classify.trainNb(
            docsC.filter(col("doc_id") < 20000L), "text", "label")
          val model = graft.ops.Classify.NbModel(
            m0.likelihoods.localCheckpoint(true),
            m0.priors.localCheckpoint(true))
          def runClassify(): Long = graft.ops.Classify.classifyNb(
            docsC, model, "doc_id", "text").count()
          runClassify() // warm
          out += "classify_score_op" -> BenchGate.gated(s"op:classify_score@$cores",
            cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
            val t0 = System.nanoTime(); runClassify()
            (System.nanoTime() - t0) / 1e9
          }
        }

        // pagerank_op: corpus-sized LinkRank over a skewed synthetic web
        // graph (SPARK_GRAFT_PR_EDGES edges, default 4M, over edges/10
        // linking hosts; dst drawn with a Zipf-ish double-pmod skew so hub
        // in-degrees are hot, plus a ~25% dangling tail in [nSrc, 4/3·nSrc)
        // that never links out). iters=5 times the per-iteration exchange
        // pair at the W-dominated size; the gate row is fixture-sized.
        if (isoOn("pagerank_op")) {
          val prEdges = sys.env.getOrElse("SPARK_GRAFT_PR_EDGES", "4000000").toLong
          val nSrc = math.max(prEdges / 10L, 100L)
          val edgesP = spark.range(0L, prEdges, 1L, cores).toDF("i")
            .select(
              pmod(abs(xxhash64(col("i"), lit(1))), lit(nSrc)).as("src"),
              when(pmod(abs(xxhash64(col("i"), lit(4))), lit(4L)) === 0L,
                lit(nSrc) + pmod(abs(xxhash64(col("i"), lit(5))), lit(nSrc / 3L)))
                .otherwise(pmod(abs(xxhash64(col("i"), lit(2))),
                  lit(1L) + pmod(abs(xxhash64(col("i"), lit(3))), lit(nSrc))))
                .as("dst"))
            .localCheckpoint(true)
          def runPr(): Long = graft.frontier.LinkRank.pageRank(
            edgesP, iters = 5).count()
          // SPARK_GRAFT_PR_EXPLAIN=1 dumps the (lazy-tail) iteration plan
          // at THIS size to stderr — the fixture-sized PLANS.md dump
          // broadcasts the edge table and can't show the exchange shape
          if (sys.env.contains("SPARK_GRAFT_PR_EXPLAIN")) {
            Console.err.println(graft.frontier.LinkRank.pageRank(
              edgesP, iters = 1, truncateFinal = false)
              .queryExecution.explainString(
                org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
              .linesIterator.take(40).mkString("\n"))
            // the lazy-tail diagnostic run pins its edge/degree caches
            // (truncateFinal=false skips the unpersists so the returned
            // plan stays readable) — drop them before the measured runs,
            // or a multi-hundred-MB edge cache sits under the very
            // timings this row certifies. edgesP itself is a
            // localCheckpoint (RDD blocks, not catalog cache): unaffected.
            spark.sqlContext.clearCache()
          }
          runPr() // warm
          out += "pagerank_op" -> BenchGate.gated(s"op:pagerank@$cores",
            cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
            val t0 = System.nanoTime(); runPr(); (System.nanoTime() - t0) / 1e9
          }
        }

        // anchor_op: corpus-sized anchor extraction + top-k aggregation
        // over SYNTHETIC pages (SPARK_GRAFT_ANCHOR_PAGES, default 300k):
        // ~800 B of markup per page, 8 <a> tags of which 7 yield rows —
        // 2 hot per-host nav targets (so topAnchors' WindowGroupLimit
        // sees genuinely hot dst keys), relative/"../"/scheme-relative/
        // absolute forms (the resolver runs on every href), a fragment
        // href kept as a self-link, and a javascript: href the extractor
        // drops. Pages checkpointed OUTSIDE the gate; timed region =
        // DOM parse + resolve + canonicalize + count agg + rank cut.
        if (isoOn("anchor_op")) {
          val nPages = sys.env.getOrElse("SPARK_GRAFT_ANCHOR_PAGES", "300000").toLong
          val pagesA = spark.range(0L, nPages, 1L, cores).toDF("i")
            .selectExpr(
              "concat('http://h', CAST(i % 3000 AS STRING), '.ir/d', " +
                "CAST(i AS STRING), '/page.html') AS url",
              """concat(
                '<html><head><title>t</title></head><body><div class="nav">',
                '<a href="/">Home</a><a href="/about.html">About us</a>',
                '<a href="../cat', CAST(i % 17 AS STRING),
                  '/index.html">Category ', CAST(i % 17 AS STRING), '</a></div>',
                '<p>', repeat('filler text with no links whatsoever ', 8), '</p>',
                '<a href="http://x', CAST((i * 31) % 50000 AS STRING),
                  '.com/p?id=', CAST(i AS STRING),
                  '&amp;ref=nav">Cross link ', CAST(i % 11 AS STRING), '</a>',
                '<p>', repeat('more body copy between anchors ', 6), '</p>',
                '<a href="p', CAST(i % 97 AS STRING),
                  '.html">Deep <b>page</b> ', CAST(i % 97 AS STRING), '</a>',
                '<a href="javascript:void(0)">menu</a>',
                '<a href="#top">Back to top</a>',
                '<a href="//cdn.ir/asset', CAST(i % 5 AS STRING), '.js">asset</a>',
                '</body></html>') AS html""")
            .localCheckpoint(true)
          def runAnchors(): Long = graft.frontier.AnchorText.topAnchors(
            graft.frontier.AnchorText.anchors(pagesA).toDF(), k = 5).count()
          runAnchors() // warm
          out += "anchor_op" -> BenchGate.gated(s"op:anchor@$cores",
            cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
            val t0 = System.nanoTime(); runAnchors()
            (System.nanoTime() - t0) / 1e9
          }
        }

        // redirect_op: pointer-doubling resolution over a REALISTIC
        // redirect graph (SPARK_GRAFT_REDIRECT_EDGES, default 4M edges):
        // 60% isolated 1-hop redirects, 20% 2-hop chains, 10% 4-hop
        // chains, 10% members of 3-cycles — web redirect data is
        // overwhelmingly 1-2 hops, which is exactly the distribution the
        // done/active split exploits (the active side collapses after
        // iteration 1; shuffle volume tracks the unresolved frontier).
        // rounds=3 ⇒ ≤8-hop budget. Edge frame checkpointed outside the
        // gate; timed region = dedupe + the joins + the terminal check.
        if (isoOn("redirect_op")) {
          val nEdges = sys.env.getOrElse("SPARK_GRAFT_REDIRECT_EDGES", "4000000").toLong
          val edgesR = spark.range(0L, nEdges, 1L, cores).toDF("i")
            .selectExpr(
              """CASE
                 WHEN i % 10 < 6 THEN concat('http://r.ir/s', CAST(i AS STRING))
                 WHEN i % 10 < 8 THEN concat('http://r.ir/c', CAST(i DIV 10 AS STRING), '/', CAST(i % 2 AS STRING))
                 WHEN i % 10 = 8 THEN concat('http://r.ir/q', CAST(i DIV 40 AS STRING), '/', CAST((i DIV 10) % 4 AS STRING))
                 ELSE concat('http://r.ir/cyc', CAST(i DIV 30 AS STRING), '/', CAST((i DIV 10) % 3 AS STRING))
                 END AS src""",
              """CASE
                 WHEN i % 10 < 6 THEN concat('http://r.ir/t', CAST(i AS STRING))
                 WHEN i % 10 < 8 THEN concat('http://r.ir/c', CAST(i DIV 10 AS STRING), '/', CAST(i % 2 + 1 AS STRING))
                 WHEN i % 10 = 8 THEN concat('http://r.ir/q', CAST(i DIV 40 AS STRING), '/', CAST((i DIV 10) % 4 + 1 AS STRING))
                 ELSE concat('http://r.ir/cyc', CAST(i DIV 30 AS STRING), '/', CAST(((i DIV 10) + 1) % 3 AS STRING))
                 END AS dst""")
            .localCheckpoint(true)
          // SPARK_GRAFT_REDIRECT_ROUNDS (diagnostic): vary the doubling
          // depth to split dedupe/terminal cost from per-iteration cost
          val rRounds = sys.env.getOrElse("SPARK_GRAFT_REDIRECT_ROUNDS", "3").toInt
          def runRedirects(): Long = graft.frontier.Redirects.resolve(
            edgesR, rounds = rRounds, "src", "dst").count()
          runRedirects() // warm
          out += "redirect_op" -> BenchGate.gated(s"op:redirect@$cores",
            cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
            val t0 = System.nanoTime(); runRedirects()
            (System.nanoTime() - t0) / 1e9
          }
        }

        // cap_op: the priority-queue cut at frontier scale
        // (SPARK_GRAFT_CAP_ENTRIES, default 10M entries with ~20%
        // duplicate-key discovery copies; cap = entries/10). Timed region
        // = dedup + range-partition + count job + flag pass + both-side
        // materialization — the full per-round cost a binding cap adds.
        if (isoOn("cap_op")) {
          val nEntries = sys.env.getOrElse("SPARK_GRAFT_CAP_ENTRIES", "10000000").toLong
          val frontierC = spark.range(0L, nEntries, 1L, cores).toDF("i")
            .selectExpr(
              // i % (n*4/5) folds the top 20% of i onto existing keys —
              // duplicate discovery copies with a different attempt
              s"concat('k', CAST(i % ${nEntries * 4 / 5} AS STRING)) AS url_key",
              s"concat('http://h', CAST(i % 100000 AS STRING), '.ir/p', CAST(i AS STRING)) AS url",
              "concat('http://h', CAST(i % 100000 AS STRING), '.ir') AS host",
              "CAST(xxhash64(i, 7) % 1000000 AS DOUBLE) AS priority",
              "CAST(i % 3 AS INT) AS attempt",
              "CAST(0 AS INT) AS discovered_round")
            .localCheckpoint(true)
          def runCap(): Long = {
            val (kept, cut, caches) = graft.frontier.FrontierRound.capByPriority(
              spark, frontierC.as[graft.model.FrontierEntry](
                org.apache.spark.sql.Encoders.product), nEntries / 10L)
            try kept.count() + cut.count()
            finally caches.foreach(_.unpersist(false))
          }
          runCap() // warm
          out += "cap_op" -> BenchGate.gated(s"op:cap@$cores",
            cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
            val t0 = System.nanoTime(); runCap()
            (System.nanoTime() - t0) / 1e9
          }
        }

        if (isoOn("bm25_probe_op")) {
        // bm25_probe_op: index prebuilt on disk; timed region = the probe
        val toks = split(col("text"), " ")
        val docs3 = t("documents").select(col("doc_id"),
          array_join(slice(toks, 1, 8), " ").as("question"),
          array_join(slice(toks, 9, 12), " ").as("answer"),
          array_join(slice(toks, lit(21), greatest(size(toks) - 20, lit(0))), " ")
            .as("content"))
        val fieldsB = Seq(graft.ops.Search.Field("question", 5.0),
          graft.ops.Search.Field("answer", 3.0),
          graft.ops.Search.Field("content", 2.0))
        val idxPath = s"${System.getProperty("java.io.tmpdir")}/graft-qscale-bm25-$cores"
        graft.ops.Search.bm25Index(docs3, fieldsB, idxPath, termBuckets = 16,
          withText = false)
        val queriesB = Seq((1L, "spark shuffle"), (2L, "hash join table"),
          (3L, "window agg data"), (4L, "vector")).toDF("query_id", "qtext")
        def runProbe(): Long = graft.ops.Search.bm25TopKIndexed(spark, idxPath,
          queriesB, fieldsB, k = 10, minScore = 1.0).count()
        runProbe() // warm
        out += "bm25_probe_op" -> BenchGate.gated(s"op:bm25_probe@$cores",
          cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
          val t0 = System.nanoTime(); runProbe(); (System.nanoTime() - t0) / 1e9
        }
        }

        // anchor_inc_op / anchor_probe_op: the daily anchor-signal
        // maintenance (GraphIndex). Base index prebuilt OUTSIDE the gate
        // from SPARK_GRAFT_ANCHOR_BASE occurrences (default 5M, targets
        // drawn with the pagerank_op double-pmod skew so nav-link keys are
        // hot); timed regions = ONE anchorIndexAppend of a prebuilt
        // base/5-row delta (append never reads prior generations, so every
        // gated run is O(delta) alike — it just adds one more ignored-by-
        // append generation), and a 32-target partition-pruned point probe
        // over the accumulated index.
        if (isoOn("anchor_inc_op") || isoOn("anchor_probe_op")) {
          val baseRows = sys.env.getOrElse("SPARK_GRAFT_ANCHOR_BASE", "5000000").toLong
          val nT = math.max(baseRows / 10L, 100L)
          def occ(n: Long, seed: Int) = spark.range(0L, n, 1L, cores).toDF("i")
            .select(
              concat(lit("http://s"), pmod(col("i"), lit(997L)),
                lit(".ir/p"), col("i")).as("src_url"),
              concat(lit("http://t"),
                pmod(abs(xxhash64(col("i"), lit(seed))),
                  lit(1L) + pmod(abs(xxhash64(col("i"), lit(seed + 1))), lit(nT))),
                lit(".ir/d")).as("dst_url"),
              concat(lit("label "),
                pmod(abs(xxhash64(col("i"), lit(seed + 2))), lit(7L))).as("text"))
          val idxPath = s"${System.getProperty("java.io.tmpdir")}/graft-qscale-anchoridx-$cores"
          new scala.reflect.io.Directory(new java.io.File(idxPath)).deleteRecursively()
          graft.frontier.GraphIndex.anchorIndexInit(occ(baseRows, 11), idxPath,
            buckets = 64)
          if (isoOn("anchor_inc_op")) {
            val deltaA = occ(baseRows / 5L, 31).localCheckpoint(true)
            def runAppend(): Unit =
              graft.frontier.GraphIndex.anchorIndexAppend(deltaA, idxPath)
            runAppend() // warm
            out += "anchor_inc_op" -> BenchGate.gated(s"op:anchor_inc@$cores",
              cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
              val t0 = System.nanoTime(); runAppend()
              (System.nanoTime() - t0) / 1e9
            }
          }
          if (isoOn("anchor_probe_op")) {
            val targets = (0 until 32).map(t => s"http://t${t * 37}.ir/d")
            def runProbeA(): Long = graft.frontier.GraphIndex.anchorsFor(
              spark, idxPath, targets, k = 3).count()
            runProbeA() // warm
            out += "anchor_probe_op" -> BenchGate.gated(s"op:anchor_probe@$cores",
              cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
              val t0 = System.nanoTime(); runProbeA()
              (System.nanoTime() - t0) / 1e9
            }
          }
        }

        // host_rank_warm_op: the maintained-graph daily rank. Edge index
        // prebuilt OUTSIDE the gate from SPARK_GRAFT_HOSTRANK_EDGES url
        // edges (default 4M over ~100k linking hosts, pagerank_op's skew +
        // dangling tail) plus one appended delta; prev ranks prebuilt
        // (5 cold iterations) and checkpointed. Timed region =
        // hostRankIndexed warm-started 2 iterations: live-part read +
        // count merge + the per-iteration exchange pair — the whole
        // recurring daily cost once maintenance is O(delta).
        if (isoOn("host_rank_warm_op")) {
          val hrEdges = sys.env.getOrElse("SPARK_GRAFT_HOSTRANK_EDGES", "4000000").toLong
          val nSrc = math.max(hrEdges / 40L, 100L)
          def urlEdgesOf(n: Long, seed: Int) = spark.range(0L, n, 1L, cores).toDF("i")
            .select(
              concat(lit("http://h"),
                pmod(abs(xxhash64(col("i"), lit(seed))), lit(nSrc)),
                lit(".ir/p"), col("i")).as("src_url"),
              concat(lit("http://h"),
                when(pmod(abs(xxhash64(col("i"), lit(seed + 3))), lit(4L)) === 0L,
                  lit(nSrc) + pmod(abs(xxhash64(col("i"), lit(seed + 4))), lit(nSrc / 3L)))
                  .otherwise(pmod(abs(xxhash64(col("i"), lit(seed + 1))),
                    lit(1L) + pmod(abs(xxhash64(col("i"), lit(seed + 2))), lit(nSrc)))),
                lit(".ir/q")).as("dst_url"))
          val idxPath = s"${System.getProperty("java.io.tmpdir")}/graft-qscale-hostedge-$cores"
          new scala.reflect.io.Directory(new java.io.File(idxPath)).deleteRecursively()
          graft.frontier.GraphIndex.hostEdgeIndexInit(
            urlEdgesOf(hrEdges, 17), idxPath, buckets = 64)
          val prev = graft.frontier.GraphIndex.hostRankIndexed(spark, idxPath,
              iters = 5)
            .select(col("host").as("node"), col("rank")).localCheckpoint(true)
          graft.frontier.GraphIndex.hostEdgeIndexAppend(
            urlEdgesOf(hrEdges / 10L, 53), idxPath)
          def runWarm(): Long = graft.frontier.GraphIndex.hostRankIndexed(
            spark, idxPath, iters = 2, init = Some(prev)).count()
          runWarm() // warm
          out += "host_rank_warm_op" -> BenchGate.gated(s"op:host_rank_warm@$cores",
            cores, maxAttempts = 4, cooldownMs = 8000L, probeMinOf = 1) {
            val t0 = System.nanoTime(); runWarm()
            (System.nanoTime() - t0) / 1e9
          }
        }
        out.toMap
      } finally spark.stop()
    }
    // SPARK_GRAFT_QSCALE_CORES narrows the measured core counts (e.g.
    // "16" for a wall-clock-only exhibit of a train too long to run at 4
    // cores); the N-vs-4N row needs both, so eff/F-W are emitted only
    // when both ran
    val coreSet = sys.env.get("SPARK_GRAFT_QSCALE_CORES")
      .map(_.split(",").map(_.trim.toInt).toSet).getOrElse(Set(4, 16))
    val iso4 = if (coreSet(4)) isolatedOps(4) else Map.empty[String, (Double, Boolean)]
    val iso16 = if (coreSet(16)) isolatedOps(16) else Map.empty[String, (Double, Boolean)]

    def row(q: String, m4: Map[String, Option[(Double, Boolean)]],
        m16: Map[String, Option[(Double, Boolean)]]): String =
      (m4.getOrElse(q, None), m16.getOrElse(q, None)) match {
        case (Some((t4, c4)), Some((t16, c16))) =>
          val w = 16.0 * (t4 - t16) / 3.0
          val f = t4 - w / 4.0
          val eff = t4 / (4.0 * t16)
          s"""{"query":"$q","t_n":$t4,"t_4n":$t16,"eff":$eff,"fixed_s":$f,"work_core_s":$w,"certified_n":$c4,"certified_4n":$c16}"""
        // single-core-set run (SPARK_GRAFT_QSCALE_CORES): a wall-clock-only
        // exhibit — no eff/F-W, explicitly uncertifiable as scaling
        case (Some((t4, c4)), None) if m16.isEmpty =>
          s"""{"query":"$q","t_n":$t4,"certified_n":$c4,"wall_only":true}"""
        case (None, Some((t16, c16))) if m4.isEmpty =>
          s"""{"query":"$q","t_4n":$t16,"certified_4n":$c16,"wall_only":true}"""
        case _ =>
          s"""{"query":"$q","failed":true}"""
      }
    val rows = queries.map(row(_, at4, at16)) ++
      (iso4.keySet ++ iso16.keySet).toSeq.sorted.map(row(_,
        iso4.map { case (k, v) => k -> Option(v) },
        iso16.map { case (k, v) => k -> Option(v) }))
    println(s"""{"metric":"query_scaling","sf":"$sfDir","rows":${rows.mkString("[", ",", "]")}}""")
  }
}
