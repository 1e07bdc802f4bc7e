package graft.ops

import graft.store.Sizing
import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic scored text retrieval — the reference's primary READ path
  * re-expressed Spark-native: every exporter flows through an ES bool/should
  * of per-field match_phrase clauses with field boosts question:5 answer:3
  * content:2, a min_score floor, and score-desc ordering
  * (/root/reference/src/elasticsearch_service.py:418-436,462-476; consumed
  * by html_converter/csv exporters). ES scores each clause with the field's
  * own BM25 statistics and sums matched clauses; this operator keeps that
  * shape (per-field BM25, boost-weighted sum over fields and query terms)
  * while staying fully deterministic and SQL-expressible — hence
  * DuckDB-oraclable, which an opaque Lucene score never is.
  *
  * Scale shape (100 TB): corpus statistics (tf, doc length, docfreq) are
  * ONE tokenize pass + hash partial-aggregations. Query terms are a
  * broadcast (queries are human-sized), so the candidate join filters the
  * big tf table map-side — no corpus shuffle keyed on anything but the
  * aggregation itself; per-term docfreq joins are broadcasts of
  * query-term-only slices. Only matched candidates reach the doc-length
  * join and the per-query top-k window.
  */
object Search {

  /** A searchable field and its boost (reference: question 5 / answer 3 /
    * content 2, elasticsearch_service.py:431-435).
    */
  final case class Field(name: String, boost: Double)

  /** (id, field, txt) long view of the per-field columns in ONE corpus
    * scan: explode over an array of (field, text) structs, instead of the
    * former |fields|-branch unionAll — which re-scanned the corpus once
    * per field (3 full scans per pass at 100 TB). `txtOf` is the per-site
    * normalization (lower for the direct scorer, canonText for the
    * phrase/index paths) — identical per-row values to the union form,
    * row order aside.
    */
  private def fieldsLongOf(docs: DataFrame, fields: Seq[Field],
      idCol: String, txtOf: Column => Column): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(array(fields.map(f =>
          struct(lit(f.name).as("field"), txtOf(col(f.name)).as("txt"))): _*))
          .as("__fx"))
      .select(col("id"), col("__fx.field").as("field"), col("__fx.txt").as("txt"))

  /** BM25-scored top-k per query over multi-field documents.
    *
    * score(q, d) = Σ_fields Σ_{t ∈ q} boost_f · idf_f(t) · tf-sat_f(t, d)
    * with idf = ln(1 + (N - df + 0.5)/(df + 0.5)) and
    * tf-sat = tf·(k1+1) / (tf + k1·(1 - b + b·len/avglen)) — the Lucene
    * BM25 form. Scores are rounded to 6 decimals BEFORE the min_score
    * filter and the per-query rank so results are engine-reproducible;
    * ties break on doc id.
    *
    * @param docs    one row per document with `idCol` + one column per field
    * @param queries (queryIdCol, queryTextCol) — whitespace-tokenized bag
    *                of terms; for the reference's actual match_phrase
    *                (consecutive-term) gate use [[bm25PhraseTopK]]
    */
  def bm25TopK(
      docs: DataFrame,
      fields: Seq[Field],
      queries: DataFrame,
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext",
      k: Int = 10,
      minScore: Double = 0.0,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val scored = bm25Scored(docs, fields, queries, idCol, queryIdCol,
      queryTextCol, k1, b)
      .filter(col("score") >= minScore)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as(queryIdCol), col("id").as(idCol),
        col("score"), col("rank"))
  }

  /** Per-query envelope of the reference's batch search stream
    * (elasticsearch_service.py:487-560): `total_count` = hits clearing the
    * min_score floor (ES `track_total_hits` with `min_score` applied),
    * `relevant_count` = rows the stream actually yields after the
    * max_results cap, `max_score` for the caller's score-tier picker
    * (html_converter.py:433-437 tiers min_score by the query's phrase
    * count). One hash aggregation over the scored candidates — no window,
    * no per-query scroll.
    */
  def bm25QueryStats(
      docs: DataFrame,
      fields: Seq[Field],
      queries: DataFrame,
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext",
      maxResults: Int = 100,
      minScore: Double = 0.0,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val stats =
      bm25Scored(docs, fields, queries, idCol, queryIdCol, queryTextCol, k1, b)
        .filter(col("score") >= minScore)
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("__tc"), round(max(col("score")), 6).as("__ms"))
    // EVERY query gets an envelope row — a no-hit query reports
    // (total_count = 0, relevant_count = 0, max_score = null), matching the
    // reference stream's per-query summary (ES track_total_hits with
    // min_score yields 0, max_score null); dropping the row would make a
    // stats consumer silently under-report the query set
    queries.select(col(queryIdCol).as("qid")).distinct()
      .join(stats, Seq("qid"), "left")
      .select(col("qid").as(queryIdCol),
        coalesce(col("__tc"), lit(0L)).as("total_count"),
        least(coalesce(col("__tc"), lit(0L)), lit(maxResults.toLong))
          .as("relevant_count"),
        col("__ms").as("max_score"))
  }

  /** Shared scoring core: (qid, id, score) for every (query, doc) pair with
    * at least one matching term, score rounded to 6 decimals.
    *
    * Order of operations matters at 100 TB: the token stream is SEMI-JOINED
    * against the broadcast query-term set BEFORE the tf aggregation, so the
    * (field, id, term) hash aggregation — billions of groups corpus-wide —
    * only ever sees rows for the handful of query terms. (Catalyst will not
    * push a join below an aggregation on its own; aggregating the full
    * vocabulary first and joining after keeps df values identical but
    * shuffles the entire term space per call.) Docfreq for the surviving
    * terms is unchanged by the restriction. The remaining corpus-wide
    * aggregation is dlen/avgdl — per-(field, doc) lengths, which is exactly
    * what [[bm25Index]] persists so repeated query batches pay it once.
    */
  private def bm25Scored(
      docs: DataFrame,
      fields: Seq[Field],
      queries: DataFrame,
      idCol: String,
      queryIdCol: String,
      queryTextCol: String,
      k1: Double,
      b: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val qterms = queries.select(col(queryIdCol).as("qid"),
        explode(split(lower(col(queryTextCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)

    // ONE corpus tokenize per call: the dl-carrying restricted tf
    // aggregation is CHECKPOINTED (candidate-sized) while per-field
    // avgdl and the doc count run CONCURRENTLY with it and come back as
    // local relations (the metaLocal pattern), so the wall stays one
    // corpus-pass wave; docfreq is [[withDf]] over the checkpoint. The
    // former fused lazy plan re-tokenized the corpus for docfreq and
    // joined a third corpus scan for doc length (see withDf for the
    // rejected window alternative).
    val boosts = fields.map(f => (f.name, f.boost)).toDF("field", "boost")
    def fieldsLong = fieldsLongOf(docs, fields, idCol, lower)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fTf = Future {
      tokensWithDl(fieldsLong)
        .join(broadcast(qterms.select("term").distinct()), Seq("term"))
        .groupBy("field", "id", "term")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .localCheckpoint(true)
    }
    val fAvgl = Future {
      fieldsLong
        .select(col("field"),
          size(filter(split(col("txt"), " "), t => length(t) > 0)).as("dl"))
        .filter(col("dl") > 0)
        .groupBy("field").agg(avg(col("dl")).as("avgdl"))
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    }
    val fN = Future { docs.count() }
    val tfC = Await.result(fTf, Duration.Inf)
    val avgl = Await.result(fAvgl, Duration.Inf).toDF("field", "avgdl")
    val nDocs = Seq(Await.result(fN, Duration.Inf)).toDF("n")
    scoreFromTf(withDf(tfC), qterms, avgl, boosts, nDocs, k1, b)
  }

  /** (id, field, dl, term) token stream from a (id, field, txt) long view:
    * one row per token occurrence, each carrying its field's total token
    * count — same term set as explode-then-filter (the array is filtered
    * of empties before the explode), dl identical to the former dlen
    * projection (`size(filter(split(txt)))`).
    */
  private def tokensWithDl(fieldsLong: DataFrame): DataFrame =
    fieldsLong
      .select(col("id"), col("field"),
        filter(split(col("txt"), " "), t => length(t) > 0).as("__toks"))
      .select(col("id"), col("field"), size(col("__toks")).as("dl"),
        explode(col("__toks")).as("term"))

  /** Docfreq attach over a tf frame (one row per (field, id, term)):
    * map-side-combined per-(field, term) count, broadcast back — over a
    * CHECKPOINTED tf this evaluates the corpus once; over a lazy tf the
    * subtree re-plans and AQE exchange reuse recovers at most part of it
    * (ProfileDfShapes, executed-plan listener: the lazy form measured
    * ~1.5x the checkpointed wall END-TO-END, checkpoint job included).
    * A `count over (partition by field, term)` WINDOW was measured and
    * rejected: it evaluates once but colocates every posting of a term
    * in ONE task — the hot-reducer shape AQE skew handling cannot split
    * (it only applies to joins), i.e. a 10^9-posting stop word becomes
    * a single-task sort at scale; the groupBy's partial aggregation
    * reduces a hot term to one row per partition before its exchange.
    */
  private def withDf(tf: DataFrame): DataFrame = {
    val qstats = tf.groupBy("field", "term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(qstats), Seq("field", "term"))
  }

  /** The BM25 join+score tail: tf rows already carrying (dl, df) × query
    * terms × per-field stats → (qid, id, score).
    */
  private def scoreFromTf(
      tfd: DataFrame,
      qterms: DataFrame,
      avgl: DataFrame,
      boosts: DataFrame,
      nDocs: DataFrame,
      k1: Double,
      b: Double): DataFrame = {
    tfd
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(avgl), Seq("field"))
      .join(broadcast(boosts), Seq("field"))
      .crossJoin(broadcast(nDocs))
      .withColumn("ts", col("boost") * idfCol * tfSatCol(k1, b))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("ts")).as("score_raw"))
      .withColumn("score", round(col("score_raw"), 6))
      .select(col("qid"), col("id"), col("score"))
  }

  private def idfCol: Column = F.log(lit(1.0) +
    (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))

  private def tfSatCol(k1: Double, b: Double): Column =
    col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))

  // ==================== phrase-aware retrieval ====================

  /** Whitespace-canonical view of a text column: lowered, runs of spaces
    * collapsed, trimmed — so token adjacency in the tokenized view equals
    * substring containment of one canonical phrase inside the canonical
    * field (` a b ` ⊂ ` ... a b ... `). DuckDB twin:
    * `trim(regexp_replace(lower(x), ' +', ' ', 'g'))`.
    */
  private def canonText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** The reference caller's per-query min_score tier by phrase count
    * (/root/reference/src/html_converter.py:431-437): base 1.5, `> 5`
    * phrases → 2.0, `elif > 2` → 2.5. The elif ordering means 3-5 phrases
    * get the HIGHEST floor — reproduced faithfully, oddity and all.
    */
  def phraseMinScore(nPhrases: Long): Double =
    if (nPhrases > 5) 2.0 else if (nPhrases > 2) 2.5 else 1.5

  private def phraseMinScoreCol(np: Column): Column =
    when(np > 5, lit(2.0)).when(np > 2, lit(2.5)).otherwise(lit(1.5))

  /** Phrase-gated BM25 top-k — the reference's actual read path: an ES
    * bool/should of one `match_phrase` clause per (phrase, field) with
    * `minimum_should_match: 1` (elasticsearch_service.py:400-437). A clause
    * contributes ONLY if the phrase's terms appear consecutively in that
    * field; a doc surfaces only if at least one clause matched. Clause
    * score here is the boost-weighted BM25 sum over the phrase's term
    * occurrences (deterministic, SQL-expressible — Lucene's sloppy
    * phrase-freq is opaque); doc score = Σ matched clauses, matching the
    * bool/should sum.
    *
    * `phraseQueries` is long-format: one row per (query_id, phrase).
    * When `minScore` is None, each query gets the reference caller's
    * phrase-count tier ([[phraseMinScore]]); pass Some(x) to override.
    *
    * Scale shape: the phrase gate is evaluated AT THE CORPUS SCAN as a
    * broadcast nested-loop (phrases are human-sized) — one `contains` per
    * (row, field, phrase), no shuffle, emitting only matched clause keys.
    * The token stream is query-term-restricted before aggregation exactly
    * as in [[bm25Scored]]; only matched clauses reach the score joins.
    */
  def bm25PhraseTopK(
      docs: DataFrame,
      fields: Seq[Field],
      phraseQueries: DataFrame,
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      phraseCol: String = "phrase",
      k: Int = 10,
      minScore: Option[Double] = None,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val phrases = phraseQueries
      .select(col(queryIdCol).as("qid"), canonText(col(phraseCol)).as("phrase"))
      .filter(length(col("phrase")) > 0)
      .distinct()

    // canonical per-field long view — the gate and the tokenizer each
    // scan it once (see fieldsLongOf)
    def fieldsLong = fieldsLongOf(docs, fields, idCol, canonText)

    val pterms = phrases
      .select(col("qid"), col("phrase"),
        explode(split(col("phrase"), " ")).as("term"))
      .filter(length(col("term")) > 0)

    def matchedGate = fieldsLong
      .crossJoin(broadcast(phrases))
      .filter(F.contains(concat(lit(" "), col("txt"), lit(" ")),
        concat(lit(" "), col("phrase"), lit(" "))))
      .select(col("qid"), col("phrase"), col("field"), col("id"))
    def tfAgg = tokensWithDl(fieldsLong)
      .join(broadcast(pterms.select("term").distinct()), Seq("term"))
      .groupBy("field", "id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    def avglAgg = fieldsLong
      .select(col("field"),
        size(filter(split(col("txt"), " "), t => length(t) > 0)).as("dl"))
      .filter(col("dl") > 0)
      .groupBy("field").agg(avg(col("dl")).as("avgdl"))
    val boosts = fields.map(f => (f.name, f.boost)).toDF("field", "boost")

    // FOUR independent corpus-shaped jobs as one concurrent wave (the
    // bm25Scored pattern): match_phrase gate and tf aggregation
    // checkpointed (candidate-sized), avgdl/count as local relations —
    // the corpus is gated and tokenized exactly once per call
    val (matched, tfd, avgl, nDocs) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fMatched = Future { matchedGate.localCheckpoint(true) }
      val fTf = Future { tfAgg.localCheckpoint(true) }
      val fAvgl = Future {
        avglAgg.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      }
      val fN = Future { docs.count() }
      val m = Await.result(fMatched, Duration.Inf)
      val t = withDf(Await.result(fTf, Duration.Inf))
      val a = Await.result(fAvgl, Duration.Inf).toDF("field", "avgdl")
      val n = Seq(Await.result(fN, Duration.Inf)).toDF("n")
      (m, t, a, n)
    }

    // matched clause × its phrase's term occurrences → scoreable rows;
    // a gated clause implies tf >= 1 for every term, so the inner joins
    // drop nothing
    val clauseTerms = matched.join(broadcast(pterms), Seq("qid", "phrase"))

    val joined = clauseTerms
      .join(tfd, Seq("field", "id", "term"))
      .join(broadcast(avgl), Seq("field"))
      .join(broadcast(boosts), Seq("field"))
      .crossJoin(broadcast(nDocs))

    // clause score and doc score are both additive over these rows
    val scored = joined
      .withColumn("ts", col("boost") * idfCol * tfSatCol(k1, b))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("ts")).as("score_raw"))
      .withColumn("score", round(col("score_raw"), 6))
      .select(col("qid"), col("id"), col("score"))

    val floored = minScore match {
      case Some(m) => scored.filter(col("score") >= m)
      case None =>
        val pcount = phrases.groupBy("qid").agg(count(lit(1)).as("np"))
        scored.join(broadcast(pcount), Seq("qid"))
          .filter(col("score") >= phraseMinScoreCol(col("np")))
          .drop("np")
    }
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    floored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as(queryIdCol), col("id").as(idCol),
        col("score"), col("rank"))
  }

  // ==================== persisted statistics index ====================

  /** One-pass persisted BM25 statistics artifact (the `lshBandIndex`
    * pattern): repeated query batches stop re-tokenizing the corpus.
    * Layout under `path`:
    *   - `tf/` — (field, id, term, tf) PARTITIONED BY tb =
    *     pmod(xxhash64(term), B): a query's terms map to a known bucket
    *     set, so the probe lists and reads only those partitions' `tb=`
    *     directories, with PartitionFilters on `tb` (the IVF-clustered
    *     trick applied to an inverted index; at 100 TB the probe touches
    *     B⁻¹ of it, and no probe lists all B directories)
    *   - `dlen/` — (field, id, dl) per-doc lengths, plus the canonical
    *     field text when `withText` (enables indexed phrase verification)
    *   - `meta/` — one row per field: (field, avgdl, sum_dl, cnt, n,
    *     term_buckets, ...), one file
    *
    * The index sizes its own files from the docs' optimized-plan size
    * estimate S (planner statistics, no Spark job):
    *   - B = 1 for S up to [[OneBucketBytes]] (256 KiB), else 64, and 64
    *     when the estimate is unknown (an RDD-backed frame): a tiny index
    *     writes one tf file per write task instead of 64, and every
    *     larger one keeps the 64-bucket layout.
    *   - the dlen write is coalesced to the split count Spark's file
    *     source gives one S-byte file ([[dlenFilesFor]]), so only the
    *     extra tasks of a fragmented small input merge.
    * A corpus of a few hundred KB thus writes one tf file and one dlen
    * file instead of 64 and one per input split. A positive `termBuckets`
    * overrides B. B is stored in meta's `term_buckets`, and the append,
    * the probes and the compaction all hash with the stored value, so no
    * caller passes it again.
    */
  def bm25Index(
      docs: DataFrame,
      fields: Seq[Field],
      path: String,
      idCol: String = "doc_id",
      termBuckets: Int = 0,
      withText: Boolean = true): Unit = {
    // a fields-less index is meaningless and would only fail later,
    // deep inside the long-view analysis — fail at the API edge instead
    require(fields.nonEmpty, "bm25Index needs at least one field")
    require(termBuckets >= 0, s"bm25Index: termBuckets must be >= 0: $termBuckets")
    val spark = docs.sparkSession
    val inputBytes = planBytes(docs)
    val buckets = if (termBuckets > 0) termBuckets else bucketsFor(inputBytes)
    val fieldsLong = fieldsLongOf(docs, fields, idCol, canonText)
    // tf rows carry the doc-field length (dl rides the token stream into
    // the aggregation): +8 denormalized bytes per posting buys the probes
    // out of the per-call corpus-sized dlen join — at 100 TB the
    // bag-of-terms probe then never touches dlen at all (avgdl/n come
    // from meta)
    val tok = tokensWithDl(fieldsLong)
    // the three corpus passes (tf write, dlen write, the doc count for
    // meta.n) are independent — run them as concurrent jobs so the build
    // pays one wave of cluster time, not three sequential job latencies
    // (guide §2.6: overlap independent jobs); meta then derives from the
    // written dlen alone
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fTf = Future {
      tok.groupBy("field", "id", "term")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .withColumn("tb", pmod(xxhash64(col("term")), lit(buckets.toLong)))
        .write.mode("overwrite").partitionBy("tb").parquet(s"$path/tf")
    }
    val dlenCols =
      if (withText) Seq(col("field"), col("id"), col("dl"), col("txt"))
      else Seq(col("field"), col("id"), col("dl"))
    // dl = 0 rows (a doc whose field is empty — e.g. short docs with no
    // content tail) are DROPPED: the tokenize path has no dlen row for an
    // empty field, and keeping zeros here would deflate avgdl vs the
    // direct path (observed: every indexed score off by ~0.3%)
    // meta's per-field running sums RIDE the write as an observation —
    // the former shape re-read the written dlen and re-aggregated it, one
    // extra job per build (and a dlen-sized read at scale) for sums the
    // write job already streams past
    val obs = new org.apache.spark.sql.Observation()
    val obsCols = metaObsCols(fields)
    val fDlen = Future {
      val base = fieldsLong
        .withColumn("dl",
          size(filter(split(col("txt"), " "), t => length(t) > 0)))
        .filter(col("dl") > 0)
        .select(dlenCols: _*)
      dlenFilesFor(spark, inputBytes).fold(base)(base.coalesce)
        .observe(obs, obsCols.head, obsCols.tail: _*)
        .write.mode("overwrite").parquet(s"$path/dlen")
    }
    val fN = Future { docs.count() }
    Await.result(fDlen, Duration.Inf)
    val nDocs = Await.result(fN, Duration.Inf)
    Await.result(fTf, Duration.Inf)
    writeMeta(spark, path,
      observedSums(obs, fields).getOrElse(
        // unsupported-runtime fallback: re-read + re-aggregate
        sumsOf(spark.read.parquet(s"$path/dlen"))),
      nDocs, buckets, withText, withDl = true)
  }

  /** The term-bucket count of an index over more than [[OneBucketBytes]]
    * of input, or over an input of unknown size.
    */
  private val TermBuckets = 64

  /** The input size up to which an index keeps one term bucket. Measured
    * on a 4-vCPU VM (`local[4]`, 12 term queries of 3 terms and 6 phrase
    * queries per probe batch): at 0.3 MB of docs, 1 bucket beat 64 in the
    * build's task CPU (0.85-0.96 s vs 1.43-1.57 s) and in both probes; at
    * 1-40 MB, 4 to 32 buckets saved 0.5-1.5 s of build CPU at 1-4 MB and
    * none measurable at 16-40 MB, while the term probe's CPU rose with
    * the size (+0.4 s a batch at 4 MB, 2-3x at 16-40 MB): a probe of a
    * few buckets reads most of tf.
    */
  private val OneBucketBytes: Long = 256L << 10

  /** `df`'s optimized-plan size estimate — planner statistics, no Spark
    * job (the size gate of `Ann.kmeansCentroids`). None when unknown:
    * Spark estimates an RDD-backed frame at `spark.sql.defaultSizeInBytes`.
    */
  private def planBytes(df: DataFrame): Option[BigInt] = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est >= df.sparkSession.sessionState.conf.defaultSizeInBytes) None else Some(est)
  }

  /** B for an input of `bytes` (None: unknown size). */
  private def bucketsFor(bytes: Option[BigInt]): Int =
    if (bytes.exists(_ <= OneBucketBytes)) 1 else TermBuckets

  /** dlen files for an input of `bytes`: the split count Spark's file
    * source gives one file of that size (`FilePartition.maxSplitBytes`:
    * splits of at most `spark.sql.files.maxPartitionBytes`, and one per core
    * down to `spark.sql.files.openCostInBytes` each). The coalesce is
    * narrow, so this is also the task count of the docs scan and text
    * canonicalization under the write: it merges only the splits a
    * fragmented input adds over that count. None (keep the input's
    * partitioning) when the size is unknown.
    */
  private def dlenFilesFor(spark: org.apache.spark.sql.SparkSession,
      bytes: Option[BigInt]): Option[Int] = {
    val conf = spark.sessionState.conf
    val cores = conf.filesMinPartitionNum.getOrElse(spark.sparkContext.defaultParallelism)
    bytes.flatMap { s =>
      for {
        large <- Sizing.units(s, conf.filesMaxPartitionBytes)
        small <- Sizing.units(s, conf.filesOpenCostInBytes)
      } yield large.max(small.min(cores))
    }
  }

  /** Per-field (sum_dl, cnt) observation columns for a dlen write — one
    * pair per field, read back by [[observedSums]].
    */
  private def metaObsCols(fields: Seq[Field]): Seq[Column] =
    fields.zipWithIndex.flatMap { case (f, i) => Seq(
      sum(when(col("field") === f.name, col("dl"))).as(s"__s$i"),
      count(when(col("field") === f.name, lit(1))).as(s"__c$i")) }

  /** The (field, sum_dl, cnt) rows of a completed [[metaObsCols]]
    * observation — None when the runtime never delivers observed metrics
    * (callers then fall back to [[sumsOf]]). Fields with zero dlen rows
    * are dropped, exactly like the groupBy they replace.
    */
  private def observedSums(obs: org.apache.spark.sql.Observation,
      fields: Seq[Field]): Option[Seq[(String, Long, Long)]] = {
    val vals = fields.indices.map { i =>
      (graft.ObservedMetrics.longField(obs, s"__s$i")(Long.MinValue),
        graft.ObservedMetrics.longField(obs, s"__c$i")(Long.MinValue))
    }
    if (vals.exists(v => v._1 == Long.MinValue || v._2 == Long.MinValue)) None
    else Some(fields.zip(vals).collect {
      case (f, (s, c)) if c > 0 => (f.name, s, c)
    })
  }

  /** (field, sum_dl, cnt) of a dlen frame, aggregated and collected — the
    * fallback when the observation is missing.
    */
  private def sumsOf(dlen: DataFrame): Seq[(String, Long, Long)] =
    dlen.groupBy("field").agg(sum(col("dl")), count(lit(1))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  /** Meta = one row per field: (field, avgdl, sum_dl, cnt, n). The RUNNING
    * SUMS are stored alongside the derived avgdl so [[bm25IndexAppend]]
    * can update the averages from the delta alone — O(delta), never a
    * corpus re-aggregation. `with_dl` records whether tf postings carry
    * the dl column, so an append learns the standing layout from the meta
    * it already reads instead of listing the whole tf directory for one
    * schema bit. The field-sized sums arrive as driver rows and are written
    * as one file from a local relation. Written temp-then-rename (atomic on
    * local/HDFS) because append rewrites it in place.
    */
  private def writeMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, sums: Seq[(String, Long, Long)], nDocs: Long,
      termBuckets: Int, withText: Boolean, withDl: Boolean): Unit = {
    import spark.implicits._
    val tmp = s"$path/_tmp_meta"
    sums.toDF("field", "sum_dl", "cnt")
      .withColumn("avgdl", col("sum_dl").cast("double") / col("cnt"))
      .withColumn("n", lit(nDocs))
      .withColumn("term_buckets", lit(termBuckets))
      .withColumn("with_text", lit(withText))
      .withColumn("with_dl", lit(withDl))
      .select("field", "avgdl", "sum_dl", "cnt", "n", "term_buckets",
        "with_text", "with_dl")
      .coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(s"$path/meta")
    fs.delete(dst, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst),
      s"meta rename failed for $dst")
  }

  /** O(delta) maintenance of a [[bm25Index]] — the daily-ingest path, the
    * fourth index family to get one (LSH band index, curated corpus, IVF
    * layout, now the inverted index): the new batch's tf rows APPEND into
    * their term-bucket partitions, its dlen rows append, and meta's
    * averages update from the delta's running sums alone. Searches via
    * [[bm25TopKIndexed]]/[[bm25PhraseTopKIndexed]] see the new docs
    * immediately; nothing corpus-sized is read or rewritten. The delta
    * hashes into the index's stored `term_buckets`, and its dlen rows are
    * coalesced by the [[bm25Index]] rule for the delta's plan estimate;
    * onto an empty-corpus index (meta with no rows) the append is a first
    * build of the delta, B included.
    *
    * Contract: delta ids are NEW (an id re-ingest would double-count its
    * tf rows — deletion/upsert is an Iceberg MERGE at the storage layer,
    * out of scope here as in the other index families).
    */
  def bm25IndexAppend(
      newDocs: DataFrame,
      fields: Seq[Field],
      path: String,
      idCol: String = "doc_id",
      withText: Boolean = true): Unit = {
    require(fields.nonEmpty, "bm25IndexAppend needs at least one field")
    val spark = newDocs.sparkSession
    // the field-count-sized meta is read ONCE on the driver (the metaLocal
    // pattern): the bucket count, the withText guard, the standing layout
    // and the doc count all come from these rows. Zero rows = an index
    // built over an empty corpus; the append is then a first build of the
    // delta.
    val oldMeta = PartitionProbe.readParquet(spark, s"$path/meta")
    val metaCols = oldMeta.columns.toSet
    val metaRows = oldMeta.collect()
    def stored[T](c: String): Option[T] =
      if (!metaCols.contains(c)) None
      else metaRows.headOption.map(_.getAs[T](c))
    val deltaBytes = planBytes(newDocs)
    val buckets = metaRows.headOption.fold(bucketsFor(deltaBytes))(
      _.getAs[Int]("term_buckets"))
    // validate BEFORE the first write: a withText mismatch caught after it
    // would leave the corrupt dlen rows on disk
    stored[Boolean]("with_text").foreach(requireWithText(_, withText, "bm25IndexAppend"))
    val fieldsLong = fieldsLongOf(newDocs, fields, idCol, canonText)
    // delta tf rows carry dl exactly like the build's (see bm25Index) —
    // unless the standing index predates the dl column: appending mixed
    // layouts would read back null dl for old rows, so match what's there
    val tok = tokensWithDl(fieldsLong)
    val tfAgg = tok.groupBy("field", "id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    // standing layout from the meta this append already read (one small
    // parquet, no tf-directory listing); indexes predating the with_dl
    // bit fall back to the tf schema check once — and this append then
    // records the answer in the meta it rewrites. An empty meta takes the
    // first build's layout (dl on every posting)
    val standingDl =
      if (metaRows.isEmpty) true
      else stored[Boolean]("with_dl").getOrElse(
        spark.read.parquet(s"$path/tf").columns.contains("dl"))
    val tfOut = if (standingDl) tfAgg else tfAgg.drop("dl")
    val dlenCols =
      if (withText) Seq(col("field"), col("id"), col("dl"), col("txt"))
      else Seq(col("field"), col("id"), col("dl"))
    val deltaDlen = fieldsLong
      .withColumn("dl",
        size(filter(split(col("txt"), " "), t => length(t) > 0)))
      .filter(col("dl") > 0)
    // the three delta passes (tf append, dlen append, the doc count for
    // meta.n) are independent — concurrent jobs, mirroring bm25Index; the
    // delta's per-field sums RIDE the dlen append as an observation (the
    // former separate deltaSums aggregation re-evaluated the whole
    // fieldsLong pipeline — a second full delta pass per append)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fTf = Future {
      tfOut
        .withColumn("tb", pmod(xxhash64(col("term")), lit(buckets.toLong)))
        .write.mode("append").partitionBy("tb").parquet(s"$path/tf")
    }
    val obs = new org.apache.spark.sql.Observation()
    val obsCols = metaObsCols(fields)
    val fDlen = Future {
      val rows = deltaDlen.select(dlenCols: _*)
      dlenFilesFor(spark, deltaBytes).fold(rows)(rows.coalesce)
        .observe(obs, obsCols.head, obsCols.tail: _*)
        .write.mode("append").parquet(s"$path/dlen")
    }
    val fN = Future { newDocs.count() }
    Await.result(fDlen, Duration.Inf)
    Await.result(fTf, Duration.Inf)
    val nNew = Await.result(fN, Duration.Inf)
    // meta: old sums (the meta rows read above) + delta sums, merged per
    // field on the driver — never re-reads dlen or meta
    val deltaSums = observedSums(obs, fields).getOrElse(sumsOf(deltaDlen))
    val oldSums = metaRows.toSeq.map(r =>
      (r.getAs[String]("field"), r.getAs[Long]("sum_dl"), r.getAs[Long]("cnt")))
    val merged = (oldSums ++ deltaSums).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (f, rs) => (f, rs.map(_._2).sum, rs.map(_._3).sum) }
    val nTotal = metaRows.map(_.getAs[Long]("n")).foldLeft(0L)(math.max) + nNew
    writeMeta(spark, path, merged, nTotal, buckets, withText,
      withDl = standingDl)
  }

  /** Maintenance compaction for an append-grown [[bm25Index]]: every
    * [[bm25IndexAppend]] adds ~1 file per touched tb partition (and one
    * more dlen file), so 10^4 daily batches re-create the small-files
    * listing pathology the curation and crawl stores already guard
    * against. Rewrites tf, re-bucketed at pmod(xxhash64(term), B), meta
    * with that `term_buckets`, and dlen, via write-tmp + rename-swap. B is
    * the stored count, raised to 64 once tf's on-disk size (one driver
    * `getContentSummary`) passes [[OneBucketBytes]]: the build sized B
    * from the docs' plan estimate, a different quantity, so compaction
    * never lowers B (an explicit build `termBuckets` survives it), and a
    * one-bucket index gains buckets as appends grow it. Single-writer
    * maintenance op: the swap window (old renamed away, new renamed in) is
    * not atomic for concurrent readers — run it like any index rebuild,
    * between query batches.
    */
  def bm25IndexCompact(spark: org.apache.spark.sql.SparkSession,
      path: String,
      filesPerBucket: Int = 1,
      dlenFiles: Int = 0): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    // every table is written to its tmp directory before any live one is
    // renamed away, so tf and the meta naming its bucket count swap together
    def swap(writes: (String, String => Unit)*): Unit = {
      val dirs = writes.map { case (sub, write) =>
        val tmp = new Path(s"$path/_tmp_$sub")
        val old = new Path(s"$path/_old_$sub")
        fs.delete(tmp, true); fs.delete(old, true)
        write(tmp.toString)
        (tmp, new Path(s"$path/$sub"), old)
      }
      dirs.foreach { case (_, live, old) =>
        require(fs.rename(live, old), s"compact: rename $live -> $old failed") }
      dirs.foreach { case (tmp, live, _) =>
        require(fs.rename(tmp, live), s"compact: rename $tmp -> $live failed") }
      dirs.foreach { case (_, _, old) => fs.delete(old, true) }
    }
    val meta = PartitionProbe.readParquet(spark, s"$path/meta")
    val stored = meta.select(col("term_buckets")).collect().map(_.getInt(0))
      .foldLeft(1)(math.max)
    val buckets = stored.max(bucketsFor(
      Some(BigInt(fs.getContentSummary(new Path(s"$path/tf")).getLength))))
    // repartition by (tb, salt): each bucket lands in exactly
    // `filesPerBucket` write tasks → that many files per partition dir,
    // regardless of how many appends accumulated (size the salt so one
    // file stays a healthy parquet row-group multiple at the target SF)
    val tf = spark.read.parquet(s"$path/tf")
      .withColumn("tb", pmod(xxhash64(col("term")), lit(buckets.toLong)))
    val dlen0 = PartitionProbe.readParquet(spark, s"$path/dlen")
    val dlen = if (dlenFiles > 0) dlen0.repartition(dlenFiles) else dlen0
    swap(
      "tf" -> (out => tf
        .repartition(col("tb"), pmod(xxhash64(col("id")), lit(filesPerBucket.toLong)))
        .write.partitionBy("tb").parquet(out)),
      "meta" -> (out => meta.withColumn("term_buckets", lit(buckets))
        .coalesce(1).write.parquet(out)),
      "dlen" -> (out => dlen.write.parquet(out)))
  }

  /** Read the field-count-sized meta table ONCE on the driver and return
    * (avgl, nDocs) as local relations with the index's stored bucket count
    * from the same rows. A probe's meta needs are a handful of scalars;
    * deriving them as three separate parquet subplans cost three jobs/AQE
    * stages per probe call. A meta without `term_buckets` fails analysis.
    */
  private def metaLocal(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): (DataFrame, DataFrame, Int) = {
    import spark.implicits._
    val rows = PartitionProbe.readParquet(spark, s"$indexPath/meta")
      .select(col("field"), col("avgdl"), col("n"), col("term_buckets")).collect()
    val avgl = rows.toSeq.map(r => (r.getString(0), r.getDouble(1)))
      .toDF("field", "avgdl")
    // empty meta = empty-corpus index; tf is empty too, so any n and any
    // bucket count work — 0 and 1 keep the probe well-defined instead of
    // throwing on max()
    val nDocs = Seq(if (rows.isEmpty) 0L else rows.map(_.getLong(2)).max).toDF("n")
    (avgl, nDocs, rows.headOption.fold(1)(_.getInt(3)))
  }

  /** withText is PERSISTED (meta.with_text): appending withText=false
    * rows into a withText=true index writes dlen files lacking the txt
    * column — appended docs read back with null stored text and the
    * indexed phrase gate silently never matches them. Indexes written
    * before the flag existed (no with_text column) are accepted as-is.
    */
  private def requireWithText(stored: Boolean, withText: Boolean,
      caller: String): Unit =
    require(stored == withText,
      s"$caller: index was written with withText=$stored, called with $withText")

  /** The distinct `tb` buckets of a `term` column. The list is |query
    * terms| ints, collected and deduped on the driver by design (it becomes
    * a partition-pruning predicate and a directory list, like IVF's cids);
    * a `distinct()` before the collect would add an exchange and a second
    * stage per probe.
    */
  private def probedBuckets(terms: DataFrame, termBuckets: Int): Seq[Long] =
    terms.select(pmod(xxhash64(col("term")), lit(termBuckets.toLong)))
      .collect().map(_.getLong(0)).distinct.toSeq

  /** Indexed probe: identical results to [[bm25TopK]] over the same docs /
    * fields (boosts are query-time), but the corpus is never re-tokenized —
    * tf is read from the query terms' `tb=` directories only (one driver
    * `listStatus` of the tf root, no partition-discovery job) with a `tb`
    * PARTITION filter covering the same buckets, df aggregates that pruned
    * slice (all rows for a term live in its one bucket, so df is exact),
    * and meta is one driver read, which also gives the stored bucket count
    * the query terms hash with. dl rides the postings, so only an index
    * written before the dl column joins dlen.
    */
  def bm25TopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      queries: DataFrame,
      fields: Seq[Field],
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      queryTextCol: String = "qtext",
      k: Int = 10,
      minScore: Double = 0.0,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val qterms = queries.select(col(queryIdCol).as("qid"),
        explode(split(lower(col(queryTextCol)), " ")).as("term"))
      .filter(length(col("term")) > 0)
    // meta is one row per FIELD — collect it once and feed avgdl/n back as
    // local relations: the former three meta subplans (bucket-count head(),
    // avgl scan, nDocs limit scan) each cost their own job/AQE stage per
    // probe for a handful of values
    val (avgl, nDocs, termBuckets) = metaLocal(spark, indexPath)
    val buckets = probedBuckets(qterms, termBuckets)
    val tfRaw = PartitionProbe.read(spark, s"$indexPath/tf", "tb", buckets)
    val tf = tfRaw
      .filter(col("tb").isin(buckets: _*))
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
    val boosts = fields.map(f => (f.name, f.boost)).toDF("field", "boost")
    // docfreq as a map-side-combined groupBy over the pruned tf slice,
    // broadcast back — skew-safe (a window over (field, term) would
    // single-task a hot term's postings; see withDf). The qstats
    // derivation re-evaluates the tb-PRUNED scan (B⁻¹ of the
    // index — bounded, unlike the direct path's corpus re-tokenize), the
    // price of keeping the probe's tb PartitionFilters visible in its
    // own plan (spec-asserted; a checkpoint would bury the scan in a
    // construction job). dl is read straight off the posting when the
    // index carries it; only a pre-dl index still pays the corpus-sized
    // dlen join
    val qstats = tf.groupBy("field", "term").agg(count(lit(1)).as("df"))
    val tfd0 = tf.join(broadcast(qstats), Seq("field", "term"))
    val tfd =
      if (tfRaw.columns.contains("dl")) tfd0
      else tfd0.join(PartitionProbe.readParquet(spark, s"$indexPath/dlen")
        .select("field", "id", "dl"), Seq("field", "id"))

    val scored = scoreFromTf(tfd, qterms, avgl, boosts, nDocs, k1, b)
      .filter(col("score") >= minScore)
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as(queryIdCol), col("id").as(idCol),
        col("score"), col("rank"))
  }

  /** Indexed phrase probe — [[bm25PhraseTopK]] semantics over a
    * [[bm25Index]] written `withText = true`: identical results, but the
    * corpus is never re-tokenized AND the match_phrase gate runs over
    * CANDIDATE rows only. Where the direct path evaluates contains() at
    * the full corpus scan (mandatory there — it is tokenizing anyway),
    * here term-matched candidates from the tb-pruned tf slice join back
    * to their stored canonical text by (field, id), so at 100 TB the gate
    * touches |candidates| rows, not the corpus — the positions-of-matched-
    * postings shape of a real search engine. Like [[bm25TopKIndexed]], the
    * phrase terms hash with the bucket count stored in meta, and the tf
    * read lists only their `tb=` directories.
    */
  def bm25PhraseTopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      phraseQueries: DataFrame,
      fields: Seq[Field],
      idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      phraseCol: String = "phrase",
      k: Int = 10,
      minScore: Option[Double] = None,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val phrases = phraseQueries
      .select(col(queryIdCol).as("qid"), canonText(col(phraseCol)).as("phrase"))
      .filter(length(col("phrase")) > 0)
      .distinct()
    val pterms = phrases
      .select(col("qid"), col("phrase"),
        explode(split(col("phrase"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    // one driver-side meta read (see bm25TopKIndexed)
    val (avgl, nDocs, termBuckets) = metaLocal(spark, indexPath)
    // the bucket list comes from the raw phrase rows: `phrases` is distinct,
    // and collecting through it would run its exchange for a term list
    val buckets = probedBuckets(phraseQueries.select(
        explode(split(canonText(col(phraseCol)), " ")).as("term"))
      .filter(length(col("term")) > 0), termBuckets)
    val tfRaw = PartitionProbe.read(spark, s"$indexPath/tf", "tb", buckets)
    val tf = tfRaw
      .filter(col("tb").isin(buckets: _*))
      .join(broadcast(pterms.select("term").distinct()), Seq("term"))
    val dlenFull = PartitionProbe.readParquet(spark, s"$indexPath/dlen")
    require(dlenFull.columns.contains("txt"),
      "bm25PhraseTopKIndexed needs an index written withText = true")
    val boosts = fields.map(f => (f.name, f.boost)).toDF("field", "boost")
    // the pruned tf slice is CHECKPOINTED once: docfreq and the
    // candidate-key projection below both read it (each used to
    // re-derive the pruned scan); dl straight off the posting when the
    // index carries it (see bm25TopKIndexed) — dlen here then only
    // serves the candidate-text gate
    val tfC = tf.localCheckpoint(true)
    val tfd0 = withDf(tfC)
    val tfd =
      if (tfRaw.columns.contains("dl")) tfd0
      else tfd0.join(dlenFull.select("field", "id", "dl"), Seq("field", "id"))

    // candidate (field, doc) keys from the pruned postings → stored text →
    // the containment gate runs over candidates only
    val candText = tfC.select("field", "id").distinct()
      .join(dlenFull.select(col("field"), col("id"), col("txt")),
        Seq("field", "id"))
    val matched = candText
      .crossJoin(broadcast(phrases))
      .filter(F.contains(concat(lit(" "), col("txt"), lit(" ")),
        concat(lit(" "), col("phrase"), lit(" "))))
      .select(col("qid"), col("phrase"), col("field"), col("id"))
    val clauseTerms = matched.join(broadcast(pterms), Seq("qid", "phrase"))

    val joined = clauseTerms
      .join(tfd, Seq("field", "id", "term"))
      .join(broadcast(avgl), Seq("field"))
      .join(broadcast(boosts), Seq("field"))
      .crossJoin(broadcast(nDocs))
    val scored = joined
      .withColumn("ts", col("boost") * idfCol * tfSatCol(k1, b))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("ts")).as("score_raw"))
      .withColumn("score", round(col("score_raw"), 6))
      .select(col("qid"), col("id"), col("score"))
    val floored = minScore match {
      case Some(m) => scored.filter(col("score") >= m)
      case None =>
        val pcount = phrases.groupBy("qid").agg(count(lit(1)).as("np"))
        scored.join(broadcast(pcount), Seq("qid"))
          .filter(col("score") >= phraseMinScoreCol(col("np")))
          .drop("np")
    }
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    floored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as(queryIdCol), col("id").as(idCol),
        col("score"), col("rank"))
  }
}
