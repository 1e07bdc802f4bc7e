package graft

import graft.fixtures.{FixtureConfig, FixtureGen}
import graft.frontier.{FrontierCrawl, FrontierRound, PolitenessConfig, RobotsRules}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Physical-plan audit: dumps `explain("formatted")` for the hot paths into
  * PLANS.md so plan regressions (lost pushdown, surprise shuffles, missed
  * broadcasts) are reviewable. Run after operator changes.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val sfDir = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.Plans)\n\n")

    def dump(title: String, notes: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"## $title\n\n$notes\n\n```\n")
      sb.append(plan.linesIterator.take(60).mkString("\n"))
      sb.append("\n```\n\n")
    }

    // 1. filter + projection pushdown into parquet
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    dump("Filter/column pushdown (scan)",
      "expect: PushedFilters for l_quantity, ReadSchema with only 2 columns",
      li.filter($"l_quantity" > 30).select($"l_orderkey", $"l_quantity"))

    // 2. broadcast join for small dimension
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    dump("Dimension join broadcasts",
      "expect: BroadcastHashJoin (customer side), no sort-merge",
      orders.join(cust, $"o_custkey" === $"c_custkey"))

    // 3. frontier fetch join + extraction round
    val cfg = FixtureConfig(seed = 42L, hosts = 8, totalDetails = 2000)
    val dir = Files.createTempDirectory("plans-pages").toString
    FixtureGen.pages(spark, cfg, 8).write.mode("overwrite").parquet(dir)
    val pages = spark.read.parquet(dir)
    val frontier = FrontierCrawl.seedFrontier(spark, cfg.seeds)
    val out = FrontierRound.run(spark, pages, frontier, None, 0,
      RobotsRules.empty, PolitenessConfig())
    dump("Frontier round: fetch join + classify",
      "expect: pages scan reads only (url, html); scheduled side broadcast " +
        "or shuffled-hash (small); html never shuffled twice",
      out.results)
    // run() registers Observation listeners that only unregister when the
    // observed frames materialize, and leaves the round's caches pinned —
    // a plan-only caller must drain them or they leak on the session
    out.results.count(); out.newFrontier.count()
    out.caches.foreach(_.unpersist(false))

    // 4. seen anti-join
    val seen = spark.range(1000).select(sha2(concat(lit("u"), $"id"), 256).as("url_key"))
    val cand = FrontierCrawl.seedFrontier(spark, cfg.seeds)
    dump("Seen-set exact anti-join path",
      "expect: LeftAnti join on url_key, the whole seen check: no " +
        "prefilter (the cuckoo probe only with cuckooSeenBuckets > 0)",
      FrontierRound.notSeen(spark, cand, seen, PolitenessConfig()).toDF())

    // 5. minhash LSH band self-join
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    dump("MinHash LSH band join",
      "expect: shuffle keyed (band, band_hash); shingle arrays only on the " +
        "verify join of candidates",
      graft.ops.Dedup.minhashLshPairs(docs, "text", "doc_id", eager = false))

    // 6. window politeness kernel (fused)
    dump("Politeness fused dedup+phase-1 + host phase-2",
      "expect: ONE Exchange hashpartitioning(host, salt) + Sort + " +
        "MapPartitions (fused dedup/rank) in stage 1's cache, then a " +
        "single (host) Window for phase 2 in its own cache, read through " +
        "the slot filter — the url_key dedup window and (host,salt) " +
        "window of the naive plan are gone. No WindowGroupLimit: the " +
        "window output is cached BEFORE the slot filter, because the " +
        "deferred rows (slot > budget) read the same cache instead of a " +
        "second window",
      FrontierRound.schedule(spark, frontier, RobotsRules.empty,
        PolitenessConfig()).scheduled)

    // 7. ANN LSH band join: no vector column through the exchange
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    dump("ANN RHP-LSH band join",
      "expect: the (t, sig) self-join exchanges only (t, sig, id) triples; " +
        "embedding arrays appear solely in the post-dedup verify joins",
      graft.ops.Ann.lshCandidatePairs(emb, bits = 8, tables = 6, dim = 64,
        minCosine = 0.2))

    // 8. bucketed pages fetch join: pages side exchange-free
    val bpath = Files.createTempDirectory("plans-bucketed").toString
    graft.sources.PagesTable.writeBucketed(spark, pages, "plans_pages_bucketed",
      bpath, buckets = 8)
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    dump("Bucketed pages fetch join (schedule beyond broadcast)",
      "expect: Scan ... Bucketed: true; exactly one Exchange (schedule side)",
      pages.select($"url").filter(length($"url") % 2 === 0)
        .join(spark.table("plans_pages_bucketed").select($"url", $"html"), Seq("url")))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    spark.sql("DROP TABLE IF EXISTS plans_pages_bucketed")

    // 9. IVF search: corpus streams through one fused assign+join stage
    dump("ANN IVF probe join",
      "expect: queryProbes side broadcast (BroadcastHashJoin on cid); the " +
        "corpus side has NO Exchange before the join — assignment is a " +
        "map, so at scale only nprobe/nlist of a cid-clustered corpus is read",
      graft.ops.Ann.ivfTopK(emb, emb.filter($"vec_id" < 3), k = 3,
        nlist = 4, nprobe = 2, iters = 1))

    // 10. BM25 scored retrieval: the query batch is literals — the token
    // stream is restricted by an isin before the tf aggregation
    val toks = split($"text", " ")
    val docs3 = docs.select($"doc_id",
      array_join(slice(toks, 1, 8), " ").as("question"),
      array_join(slice(toks, 9, 12), " ").as("answer"),
      array_join(slice(toks, lit(21), greatest(size(toks) - 20, lit(0))), " ").as("content"))
    val queries = Seq((1L, "spark shuffle"), (2L, "hash join")).toDF("query_id", "qtext")
    dump("BM25 scored retrieval",
      "expect: the token stream filtered by term IN (query terms) below " +
        "the tf aggregation (a checkpoint scan here); docfreq the only " +
        "BroadcastHashJoin side; the term → query fan-out an explode over a " +
        "map literal and boosts/avgdl/n one map-literal lookup — no " +
        "exchange or broadcast of query rows; then the (qidx, id) score " +
        "aggregation and the per-query rank window",
      graft.ops.Search.bm25TopK(docs3,
        Seq(graft.ops.Search.Field("question", 5.0),
          graft.ops.Search.Field("answer", 3.0),
          graft.ops.Search.Field("content", 2.0)), queries, k = 5))

    // 11. bucket-local cuckoo filter build: one distributed aggregation,
    // output stays (bucket, filter) rows — nothing driver-side
    val seenBig = spark.range(5000)
      .select(sha2(concat(lit("k"), $"id"), 256).as("url_key"))
    dump("Cuckoo bucket-filter distributed build",
      "expect: ObjectHashAggregate/SortAggregate keyed on bucket over the " +
        "whole seen table; NO CollectLimit / broadcast — the probe side " +
        "cogroups candidates with these rows (typed CoGroup, not in this " +
        "fragment: see SeenSetSpec accumulator evidence)",
      graft.seen.SeenSet.bucketFiltersDF(seenBig, buckets = 16,
        expectedPerBucket = 1024))

    // 12. exact keep-first dedup: two-phase aggregate, no window
    dump("Exact keep-first dedup (min_by aggregation)",
      "expect: partial aggregate (map-side combine) + Exchange " +
        "hashpartitioning(content hash) + final aggregate — NO Window, no " +
        "global sort: a hot content hash (boilerplate duplicated 10^8x) " +
        "reduces in parallel instead of landing on one task",
      graft.ops.Dedup.exactKeepFirst(docs, "text", "doc_id"))

    // 13. incremental LSH probe: the persisted index side is exchange-free
    val bandIndex = graft.ops.Dedup.lshBandIndex(docs, "text", "doc_id")
    val idxPath = Files.createTempDirectory("plans-lsh-index").toString
    bandIndex.write.mode("overwrite").parquet(idxPath)
    val deltaDocs = docs.limit(20).withColumn("doc_id", $"doc_id" + 100000L)
    dump("Incremental LSH delta-vs-index probe",
      "expect: the delta's band table is the BroadcastHashJoin build side; " +
        "the persisted band index scans with NO Exchange before the " +
        "candidate join; corpus re-shingling is semi-joined down to " +
        "candidate ids only",
      graft.ops.Dedup.minhashLshPairsIncremental(docs,
        spark.read.parquet(idxPath), deltaDocs, "text", "doc_id", eager = false))

    // 14. bucketed dedup base: the candidate-text semi-join of
    // minhashLshPairsIncremental with the corpus at rest bucketed by id
    val dbPath = Files.createTempDirectory("plans-dedup-base").toString
    val corpusExact = graft.ops.Curation.dedupBase(docs, "doc_id", "text")
    graft.ops.Curation.writeDedupBaseBucketed(spark, corpusExact,
      "plans_dedup_base", dbPath, buckets = 8)
    val boundBase = graft.ops.Curation.bindDedupBase(spark, "plans_dedup_base",
      dbPath, buckets = 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    dump("Bucketed dedup-base candidate semi-join (SMJ forced)",
      "expect: corpus scan Bucketed: true with NO Exchange on its side; " +
        "only the candidate-id side exchanges (to the bucket count) — the " +
        "at-rest fix for curateDelta's residual corpus read",
      boundBase.select($"doc_id".cast("long").as("id"), $"text".as("t"))
        .join(Seq(1L, 3L, 6L).toDF("id"), Seq("id"), "left_semi"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    spark.sql("DROP TABLE IF EXISTS plans_dedup_base")

    // 15. BM25 indexed probe: inverted-index scan pruned to query-term buckets
    val bmPath = Files.createTempDirectory("plans-bm25-index").toString
    graft.ops.Search.bm25Index(docs3,
      Seq(graft.ops.Search.Field("question", 5.0),
        graft.ops.Search.Field("answer", 3.0),
        graft.ops.Search.Field("content", 2.0)),
      bmPath, termBuckets = 16, withText = false)
    dump("BM25 indexed probe (persisted stats artifact)",
      "expect: tf scan carries PartitionFilters on tb and its Location " +
        "lists only the probed tb= directories (the query terms' buckets; " +
        "no partition-discovery job), with term IN (query terms) as a data " +
        "filter; NO corpus-wide aggregation anywhere on the query path — df " +
        "aggregates the pruned tf slice and is the plan's only broadcast; " +
        "meta is a driver read planned as literals",
      graft.ops.Search.bm25TopKIndexed(spark, bmPath, queries,
        Seq(graft.ops.Search.Field("question", 5.0),
          graft.ops.Search.Field("answer", 3.0),
          graft.ops.Search.Field("content", 2.0)),
        k = 5))

    // 16. phrase-gated retrieval: the match_phrase containment gate runs at
    // the corpus scan against the literal phrase list — no join, no shuffle
    val phrases = Seq((1L, "hash join"), (2L, "window agg")).toDF("query_id", "phrase")
    dump("BM25 phrase gate (match_phrase semantics)",
      "expect: the per-field corpus scan computes each row's matched " +
        "clauses (contains() over a literal phrase array, no join), the " +
        "token stream is filtered by term IN (phrase terms) BEFORE the tf " +
        "groupBy, and the phrase → terms fan-out is an explode over a map " +
        "literal; docfreq the only broadcast",
      graft.ops.Search.bm25PhraseTopK(docs3,
        Seq(graft.ops.Search.Field("question", 5.0),
          graft.ops.Search.Field("answer", 3.0),
          graft.ops.Search.Field("content", 2.0)),
        phrases, k = 5, minScore = Some(0.0)))

    // 17. vocab build: the partitionless rank window must sit above the
    // per-partition pre-prune, never directly above the token aggregation
    dump("Vocab build (bounded global window)",
      "expect: Window partitioned by __vpart (pre-prune, ≤ vocabSize rows " +
        "per hash partition) feeding the partitionless global rank Window " +
        "— the single task sees ≤ prePartitions·vocabSize rows",
      graft.ops.Tokenize.buildVocab(docs, "text", vocabSize = 30))

    // 18. char-LM scoring: the model (bounded by charset^n) broadcasts;
    // the corpus side's only exchange is the per-doc mean aggregation
    val lmModel = graft.ops.CharLm.train(docs.limit(200), "text")
    dump("Char-LM quality scoring",
      "expect: BroadcastHashJoin with the model as build side; exactly one " +
        "Exchange on the corpus path — hashpartitioning(doc_id) under the " +
        "final avg aggregate (partial agg collapses grams per doc per " +
        "partition first); gram generation is a projection over an " +
        "attribute (no per-element regexp re-evaluation)",
      graft.ops.CharLm.score(docs, lmModel, "doc_id", "text"))

    // 19. decontamination: benchmark grams broadcast, corpus shuffle-free
    // up to the id-keyed count
    val benchG = graft.ops.Decontaminate.benchmarkGrams(
      docs.filter($"doc_id" % 10 === 0), "text", n = 5)
    dump("Benchmark decontamination membership test",
      "expect: benchmark gram set on the BroadcastHashJoin build side; one " +
        "Exchange hashpartitioning(doc_id) for the hit count with a " +
        "partial aggregate below it — gram strings never transit a " +
        "shuffle, only the broadcast",
      graft.ops.Decontaminate.contaminationStats(docs, benchG,
        "doc_id", "text", n = 5))

    // 20. per-source cap: rank-limit pushdown bounds the hot domain
    dump("Per-source document cap (WindowGroupLimit)",
      "expect: WindowGroupLimit [...] Partial BELOW the single Exchange — " +
        "each map partition pre-prunes to its own top-k per source, so a " +
        "10^8-doc domain's reducer sees ≤ k·inputPartitions rows",
      graft.ops.Curation.capPerSource(docs, "source", "doc_id", k = 10))

    // 21. quality-gated dedupBase: the repetition/quality gates are plain
    // filters under the keep-first aggregate's exchange
    dump("Quality-gated curation stage",
      "expect: the dup-line/top-word/3-gram/quality predicates evaluate in " +
        "the scan's Filter/Project stage BEFORE the partial aggregate and " +
        "Exchange of keep-first — gated docs never enter the dedup shuffle",
      graft.ops.Curation.dedupBase(docs, "doc_id", "text",
        graft.ops.Curation.Config(langs = Set("en", "latin"),
          maxDup3gramFrac = 0.4, maxTopWordFrac = 0.5)))

    // 22. paragraph dedup: corpus-wide keep-first lines with the rank
    // filter pushed below the line exchange
    dump("Paragraph-level exact dedup (CCNet line dedup)",
      "expect: WindowGroupLimit [...] Partial BELOW the hash exchange on " +
        "the line content (a corpus-hot boilerplate line ships ≤ 1 row per " +
        "map partition), then one exchange on doc_id for reassembly — two " +
        "exchanges total, no joins",
      graft.ops.Dedup.paragraphDedup(
        docs.select($"doc_id",
          regexp_replace($"text", "((\\S+ ){7}\\S+) ", "$1\n").as("text")),
        "text", "doc_id"))

    // 23. sequence packing: the global concatenation is a distributed
    // prefix sum — bucket-partitioned window + broadcast bucket bases,
    // never a partitionless one-task window over the corpus
    val enc = graft.ops.Tokenize.encode(docs, "text", "doc_id",
      graft.ops.Tokenize.buildVocab(docs, "text", vocabSize = 30))
    dump("Sequence packing (distributed prefix sum)",
      "expect: every windowspecdefinition partitioned by __b (the range " +
        "bucket); bucket base offsets enter via a BroadcastHashJoin of a " +
        "prefixBuckets-row table; token arrays transit only the offset " +
        "join and the final seq_idx exchange",
      graft.ops.Tokenize.packSequences(enc, "doc_id", seqLen = 16,
        eosId = Some(99), minLen = 8, prefixBuckets = 8))

    // 24. exact-substring (span) dedup: window-free loser enumeration
    dump("Exact-substring span dedup (ExactSubstr, window-free)",
      "expect: NO Window node anywhere — the winner per repeated gram is a " +
        "partial-aggregating min(struct) HashAggregate (hot boilerplate " +
        "grams combine map-side); grams transit the exchange as 16-byte " +
        "md5 keys, never k-word strings; coverage removal is a LeftAnti " +
        "join on the unique (id, position) key (audited eager=false so " +
        "the production path's gram cache/checkpoint hides nothing)",
      graft.ops.Dedup.spanDedup(docs, "text", "doc_id", k = 8, eager = false))

    // 25b. byte-level media-header decode: the ingest metadata pass
    dump("Image/audio header decode (real byte parsers, no UDF)",
      "expect: a single Project over the scan — no Exchange, no UDF/Python " +
        "stage; PNG/GIF dims are codegen'd hex/conv/substring, the JPEG " +
        "SOF and WAV RIFF walks are bounded aggregate folds (expression " +
        "tree, CodegenFallback) — the whole decode rides the scan stage",
      graft.ops.Multimodal.audioMeta(
        graft.ops.Multimodal.imageMeta(
          docs.select($"doc_id", sha2($"text", 256).cast("binary").as("payload")))))

    // 25c. the MP4 sibling (round 5): same contract — container walk as a
    // bounded fold, metadata without touching pixel/sample data
    dump("Video container metadata (MP4/ISO-BMFF box walk)",
      "expect: a single Project over the scan — no Exchange, no UDF; the " +
        "box walk (enter moov/trak, skip leaves by declared size, capture " +
        "mvhd + first video tkhd) is one bounded aggregate fold",
      graft.ops.Multimodal.videoMeta(
        docs.select($"doc_id", sha2($"text", 256).cast("binary").as("payload"))))

    // 25. BPE: the per-iteration argmax the trainer loops on — word-table
    // sized, corpus never re-read after the initial word-frequency agg
    dump("BPE pair-count argmax (one training iteration's work)",
      "expect: two partial-aggregating HashAggregates (word counts, then " +
        "pair counts) and a TakeOrderedAndProject — the only thing the " +
        "driver ever receives per merge is the 1-row argmax; pairs build " +
        "array-locally (zip_with, no per-element re-split)",
      graft.ops.Tokenize.bpePairCounts(docs, "text")
        .orderBy($"pair_count".desc, $"left_sym", $"right_sym").limit(1))

    // 26. frontier-priority PageRank: one iteration's plan — the two
    // unavoidable exchanges (ranks⋈edges on src, contribs agg on dst);
    // N is a one-time build scalar and the dangling mass a literal
    // observed off the previous checkpoint, so the iteration body
    // carries NO scalar subquery / crossJoin machinery
    dump("LinkRank PageRank (one power iteration over the checkpointed start)",
      "expect: SortMergeJoin ranks-by-src against the cached edge table " +
        "(merge-hinted: stats would BROADCAST the corpus-sized edge cache " +
        "per iteration), hash aggregate for the per-dst inflow sum, " +
        "dangling/N as plain literals, and NO CollectLimit in the " +
        "iteration body",
      graft.frontier.LinkRank.pageRank(
        spark.range(0, 2000).select(
          pmod($"id", lit(100)).as("src"),
          pmod($"id" * 31 + 7, lit(140)).as("dst")),
        iters = 1, truncateFinal = false))

    // 27. anchor-text top-k: the rank cut must push a Partial
    // WindowGroupLimit below the dst exchange (hot nav targets bounded
    // map-side — the curate_source_cap pattern on the anchor stream)
    dump("AnchorText topAnchors (top-k anchor texts per link target)",
      "expect: WindowGroupLimit with a Partial mode instance BELOW the " +
        "dst_url exchange; one exchange for the (dst, text) count agg; " +
        "the extraction flatMap (MapPartitions over the page scan) feeds " +
        "it with no exchange of its own",
      graft.frontier.AnchorText.topAnchors(
        graft.frontier.AnchorText.anchors(
          spark.range(0, 500).selectExpr(
            "concat('http://h', CAST(id % 7 AS STRING), '.ir/p', CAST(id AS STRING)) AS url",
            "concat('<a href=\"/x', CAST(id % 11 AS STRING), '\">t', CAST(id % 3 AS STRING), '</a>') AS html")).toDF(),
        k = 3))

    // 28. trap-detect host verdict: the per-URL signal/template columns
    // are pure projections riding the scan; the only exchange is the
    // host aggregation
    dump("TrapDetect trapHosts (url signals -> all-integer host verdict)",
      "expect: the signal/template columns are pure Projects riding the " +
        "scan (no UDF, no shuffle of their own); above them exactly the " +
        "TWO exchanges of Spark's Expand-based multi-countDistinct " +
        "rewrite (partial distinct on (host, template|key_set, gid), " +
        "then the host aggregate) — host-cardinality output",
      graft.frontier.TrapDetect.trapHosts(
        spark.range(0, 2000).selectExpr(
          "concat('http://h', CAST(id % 5 AS STRING), '.ir/a/', CAST(id AS STRING)) AS url")))

    // 29. redirect resolution, one doubling round: the join reads the
    // checkpointed active frontier on both sides; retire/continue split
    // off ONE materialized join (no double evaluation)
    dump("Redirects resolve (one pointer-doubling round + terminal check)",
      "expect: the done/tail union over ExistingRDD checkpoints (each " +
        "iteration's join materialized ONCE via localCheckpoint — the " +
        "plan shows scans of the checkpoint, not a re-derived join); the " +
        "terminal check joins only the shrunken active remainder",
      graft.frontier.Redirects.resolve(
        spark.range(0, 3000).selectExpr(
          "concat('u', CAST(id AS STRING)) AS src_url",
          "CASE WHEN id % 3 = 0 THEN concat('u', CAST(id + 1 AS STRING)) " +
            "ELSE concat('t', CAST(id AS STRING)) END AS location"),
        rounds = 1))

    // 30. priority-queue cut: the cut itself is two cached passes (dedup,
    // then range-partition + stamped row id); what the PLAN can show is
    // the kept/cut filters reading ONE cached frame — no window, no
    // driver-side take anywhere
    {
      val entries = spark.range(0, 5000).selectExpr(
        "concat('k', CAST(id % 4000 AS STRING)) AS url_key",
        "concat('http://h', CAST(id % 50 AS STRING), '.ir/p', CAST(id AS STRING)) AS url",
        "concat('h', CAST(id % 50 AS STRING), '.ir') AS host",
        "CAST(id % 97 AS DOUBLE) AS priority",
        "CAST(0 AS INT) AS attempt", "CAST(0 AS INT) AS discovered_round")
        .as[graft.model.FrontierEntry]
      val (kept, cut, caches) = graft.frontier.FrontierRound.capByPriority(spark, entries, 1000L)
      dump("Priority-queue cut (capByPriority kept side over the stamped-id cache)",
        "expect: one Filter (partition offset + row index < n) + Project " +
          "over ONE InMemoryTableScan (the stamped-id cache) — no Window, " +
          "no MapPartitions, no CollectLimit, no second derivation of the " +
          "range sort; the cut side is the same scan with the negated filter",
        kept.toDF())
      cut.count() // document that both sides execute
      caches.foreach(_.unpersist(false))
    }

    // 31. incremental anchor-signal point probe: the probed targets'
    // bucket set becomes a PartitionFilters predicate on every live
    // generation's scan — the read touches only those ab= directories
    {
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft-plans-anchoridx").toString + "/idx"
      val occ = spark.range(0, 3000).selectExpr(
        "concat('http://s', CAST(id % 7 AS STRING), '.ir/p', CAST(id AS STRING)) AS src_url",
        "concat('http://t', CAST(id % 40 AS STRING), '.ir/d') AS dst_url",
        "concat('label ', CAST(id % 3 AS STRING)) AS text")
      graft.frontier.GraphIndex.anchorIndexInit(
        occ.filter("id % 2 = 0"), idxDir, buckets = 16)
      graft.frontier.GraphIndex.anchorIndexAppend(
        occ.filter("id % 2 = 1"), idxDir)
      dump("GraphIndex anchorsFor (partition-pruned probe over live generations)",
        "expect: every parquet scan (one per live generation — here the " +
          "init delta and one append) carries PartitionFilters on ab " +
          "(the targets' bucket set, driver-computed like the BM25 " +
          "probe's tb) plus a dst_url data filter; above them one count " +
          "merge exchange and the top-k window — delta-sized, never a " +
          "table scan",
        graft.frontier.GraphIndex.anchorsFor(spark, idxDir,
          Seq("http://t3.ir/d", "http://t17.ir/d"), k = 3))
    }

    // 32. NB classifier scoring: the model sides must both broadcast
    // (priors = labels rows, likelihoods = vocab×labels), leaving ONE
    // corpus-shaped exchange — the (doc, label) partial-aggregated sum
    {
      val labeled = spark.range(0, 2000).selectExpr(
        "id AS doc_id",
        "concat('w', CAST(id % 50 AS STRING), ' w', CAST(id % 31 AS STRING)) AS text",
        "CASE WHEN id % 2 = 0 THEN 'good' ELSE 'bad' END AS label")
      // scoring runs against a MATERIALIZED model (trained once,
      // persisted) — checkpoint the frames so the dump shows the
      // repeated scoring path, not training's model-sized exchanges
      val m0 = graft.ops.Classify.trainNb(labeled, "text", "label")
      val model = graft.ops.Classify.NbModel(
        m0.likelihoods.localCheckpoint(true), m0.priors.localCheckpoint(true))
      dump("NB classifier scoring (broadcast model, one corpus exchange)",
        "expect: BroadcastNestedLoopJoin for the label fan-out (priors: " +
          "one row per label) and BroadcastHashJoin for the likelihood " +
          "lookup; the only hashpartitioning exchanges are the (doc_id, " +
          "label) score aggregation and the per-doc argmax — corpus text " +
          "never shuffles, only docs×labels score rows",
        graft.ops.Classify.classifyNb(
          labeled.select($"doc_id", $"text"), model, "doc_id", "text"))
    }

    // 33. recrawl change stats: dedup lag, IGNORE NULLS pairing, and the
    // per-url aggregation all share the url partitioning
    dump("Recrawl changeStats (single url-partitioned exchange)",
      "expect: exactly ONE Exchange hashpartitioning(url_key); both " +
        "Window nodes (round-dedup lag + prev-hash IGNORE NULLS) and the " +
        "HashAggregate ride the same partitioning; everything above is " +
        "url-count-sized",
      graft.frontier.Recrawl.changeStats(
        spark.range(0, 3000).selectExpr(
          "concat('u', CAST(id % 500 AS STRING)) AS url_key",
          "id % 6 AS round",
          "CASE WHEN id % 17 = 0 THEN NULL ELSE md5(CAST(id % 900 AS STRING)) END AS content_hash")))

    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println("PLANS.md written")
    spark.stop()
  }
}
