package graft.ops

import graft.store.Sizing
import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

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
  * ONE tokenize pass + hash partial-aggregations. A query batch is
  * human-sized, so each call resolves it on the driver once (one collect,
  * none for a local frame) and plans it as literals, the way the
  * reference sends its terms, boosts and phrases as constants of one ES
  * request: the query terms restrict the token stream with an `isin`
  * before any aggregation, and the term → query fan-out, the phrase gate,
  * boosts, avgdl and n are lookups into literal arrays and maps. The only
  * exchanges and broadcasts left carry corpus data: docfreq, candidate
  * text, the score aggregation and the per-query top-k window.
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
    *                of terms (a term repeated in a query counts once per
    *                occurrence); for the reference's actual match_phrase
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
    val (batch, scored) = bm25Scored(docs, fields, queries, idCol, queryIdCol,
      queryTextCol, k1, b)
    topK(scored, batch, lit(minScore), k, queryIdCol, idCol)
  }

  /** Per-query envelope of the reference's batch search stream
    * (elasticsearch_service.py:487-560): `total_count` = hits clearing the
    * min_score floor (ES `track_total_hits` with `min_score` applied),
    * `relevant_count` = rows the stream actually yields after the
    * max_results cap, `max_score` for the caller's score-tier picker
    * (html_converter.py:433-437 tiers min_score by the query's phrase
    * count). One hash aggregation over the scored candidates — no window,
    * no per-query scroll, no join.
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
    val (batch, scored) =
      bm25Scored(docs, fields, queries, idCol, queryIdCol, queryTextCol, k1, b)
    // EVERY query gets an envelope row — a no-hit query reports
    // (total_count = 0, relevant_count = 0, max_score = null), matching the
    // reference stream's per-query summary (ES track_total_hits with
    // min_score yields 0, max_score null); dropping the row would make a
    // stats consumer silently under-report the query set. One null-score
    // row per query rides into the same aggregation, which counts scores
    val everyQuery = docs.sparkSession.range(0, 1, 1, 1)
      .select(explode(typedLit(batch.qids.indices.toArray)).as("qidx"),
        lit(null).cast("double").as("score"))
    scored.filter(col("score") >= minScore).select(col("qidx"), col("score"))
      .unionByName(everyQuery)
      .groupBy(col("qidx"))
      .agg(count(col("score")).as("total_count"),
        round(max(col("score")), 6).as("max_score"))
      .select(batch.qid(col("qidx")).as(queryIdCol), col("total_count"),
        least(col("total_count"), lit(maxResults.toLong)).as("relevant_count"),
        col("max_score"))
  }

  /** Direct-path scoring core: the query batch and (qidx, id, score) for
    * every (query, doc) pair with at least one matching term, score
    * rounded to 6 decimals.
    *
    * Order of operations matters at 100 TB: the token stream is restricted
    * to the batch's terms (an `isin`) BEFORE the tf aggregation, so the
    * (field, id, term) hash aggregation — billions of groups corpus-wide —
    * only ever sees rows for the handful of query terms. Docfreq for the
    * surviving terms is unchanged by the restriction; the candidate-sized
    * tf aggregation is CHECKPOINTED, so docfreq and the scores read one
    * tokenize pass ([[withDf]]). The remaining corpus-wide work is avgdl
    * and n, one collected aggregate — exactly what [[bm25Index]] persists
    * so repeated query batches pay it once.
    */
  private def bm25Scored(
      docs: DataFrame,
      fields: Seq[Field],
      queries: DataFrame,
      idCol: String,
      queryIdCol: String,
      queryTextCol: String,
      k1: Double,
      b: Double): (Batch, DataFrame) = {
    val batch = batchOf(queries, queryIdCol, split(lower(col(queryTextCol)), " "))
    val terms = byTerm(batch.rows)
    val tf = tokensWithDl(fieldsLongOf(docs, fields, idCol, lower))
      .filter(col("term").isin(terms.keys.toSeq: _*))
      .groupBy("field", "id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .localCheckpoint(true)
    (batch, scoreTail(withDf(tf), element_at(typedLit(terms), col("term")),
      corpusStats(docs, fields, lower), k1, b))
  }

  /** A query batch resolved on the driver, once per call: its distinct
    * query ids in first-seen order (a `qidx` is a position in `qids`) and
    * one (qidx, token) row per non-empty token of each query row, repeats
    * kept. The plans take it as literals, never as a joined relation;
    * [[qid]] writes the ids with `lit`, so query ids are of an atomic type
    * (a number, a string, a date).
    */
  private final case class Batch(qids: Seq[Any], qidType: DataType,
      rows: Seq[(Int, String)]) {
    /** The caller's query id of a `qidx` column, typed as the caller's. */
    def qid(qidx: Column): Column =
      element_at(array(qids.map(lit): _*).cast(ArrayType(qidType)), qidx + 1)
  }

  /** The [[Batch]] of `queries` with `tokens` (an array column) per row:
    * one collect, and no Spark job for a local frame, whose projection
    * Spark evaluates on the driver.
    */
  private def batchOf(queries: DataFrame, queryIdCol: String, tokens: Column): Batch = {
    val q = queries.select(col(queryIdCol), tokens)
    val index = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
    val rows = q.collect().toSeq.flatMap { r =>
      val i = index.getOrElseUpdate(r.get(0), index.size)
      Option(r.getSeq[String](1)).toSeq.flatten
        .filter(t => t != null && t.nonEmpty).map(i -> _)
    }
    Batch(index.keys.toSeq, q.schema.head.dataType, rows)
  }

  /** token → the index of every row holding it, once per occurrence: a
    * query (or phrase) that repeats a term scores it twice, as a join
    * against its (qid, term) rows would.
    */
  private def byTerm(rows: Seq[(Int, String)]): Map[String, Seq[Int]] =
    rows.groupBy(_._2).map { case (t, is) => t -> is.map(_._1) }

  /** A field's constants within one call: its boost, avgdl and the doc
    * count n, looked up by the row's field from one map literal.
    */
  private final case class FieldStats(boost: Double, avgdl: Double, n: Long)

  /** The [[FieldStats]] of every field that has an avgdl (a field whose
    * text is empty in every doc has no postings to score).
    */
  private def fieldStats(fields: Seq[Field], avgdl: Map[String, Double],
      n: Long): Map[String, FieldStats] =
    fields.flatMap(f => avgdl.get(f.name).map(a => f.name -> FieldStats(f.boost, a, n)))
      .toMap

  /** Token count of a text column (whitespace-split, empties dropped). */
  private def dlOf(txt: Column): Column =
    size(filter(split(txt, " "), t => length(t) > 0))

  /** Per-field avgdl over the docs whose field is non-empty, and the doc
    * count n, of `docs` as normalized by `txtOf`: one aggregate, collected.
    */
  private def corpusStats(docs: DataFrame, fields: Seq[Field],
      txtOf: Column => Column): Map[String, FieldStats] = {
    val dls = fields.map(f => dlOf(txtOf(col(f.name))))
    val r = docs.agg(count(lit(1)), dls.map(dl => avg(when(dl > 0, dl))): _*).head()
    fieldStats(fields, fields.indices.collect {
      case i if !r.isNullAt(i + 1) => fields(i).name -> r.getDouble(i + 1)
    }.toMap, r.getLong(0))
  }

  /** (id, field, dl, term) token stream from a (id, field, txt) long view:
    * one row per token occurrence, each carrying its field's total token
    * count — same term set as explode-then-filter (the array is filtered
    * of empties before the explode), dl identical to [[dlOf]]. The `keep`
    * columns ride along.
    */
  private def tokensWithDl(fieldsLong: DataFrame, keep: String*): DataFrame =
    fieldsLong
      .select(Seq(col("id"), col("field"),
        filter(split(col("txt"), " "), t => length(t) > 0).as("__toks")) ++ keep.map(col): _*)
      .select(Seq(col("id"), col("field"), size(col("__toks")).as("dl"),
        explode(col("__toks")).as("term")) ++ keep.map(col): _*)

  /** Docfreq attach over a tf frame (one row per (field, id, term)):
    * map-side-combined per-(field, term) count, broadcast back — over a
    * CHECKPOINTED tf this evaluates the corpus once; over a lazy tf
    * aggregation the docfreq side prunes the tf and dl aggregates away, so
    * its exchange differs from the scoring side's and is not reused: the
    * corpus is tokenized twice (measured in the direct stats probe, both
    * 4-task scans in one SQL execution). A `count over (partition by field, term)`
    * WINDOW was measured and rejected: it evaluates once but colocates
    * every posting of a term in ONE task — the hot-reducer shape AQE skew
    * handling cannot split (it only applies to joins), i.e. a
    * 10^9-posting stop word becomes a single-task sort at scale; the
    * groupBy's partial aggregation reduces a hot term to one row per
    * partition before its exchange.
    */
  private def withDf(tf: DataFrame): DataFrame = {
    val qstats = tf.groupBy("field", "term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(qstats), Seq("field", "term"))
  }

  /** The one BM25 scoring tail of every scorer: tf rows carrying (field,
    * term, tf, dl, df), each fanned out to the `qidxs` (an array per row)
    * it answers, weighted with its field's boost, avgdl and n from one map
    * literal, summed per (qidx, id) and rounded → (qidx, id, score).
    */
  private def scoreTail(tfd: DataFrame, qidxs: Column,
      stats: Map[String, FieldStats], k1: Double, b: Double): DataFrame = {
    val st = element_at(typedLit(stats), col("field"))
    tfd.select(col("id"), qidxs.as("__q"),
        (st("boost") * idfCol(st("n")) * tfSatCol(st("avgdl"), k1, b)).as("ts"))
      .select(explode(col("__q")).as("qidx"), col("id"), col("ts"))
      .groupBy(col("qidx"), col("id"))
      .agg(sum(col("ts")).as("score_raw"))
      .select(col("qidx"), col("id"), round(col("score_raw"), 6).as("score"))
  }

  private def idfCol(n: Column): Column = F.log(lit(1.0) +
    (n - col("df") + lit(0.5)) / (col("df") + lit(0.5)))

  private def tfSatCol(avgdl: Column, k1: Double, b: Double): Column =
    col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))

  /** Per-query top-k of scored (qidx, id, score) rows clearing `floor`,
    * ranked by score desc then id, with the caller's query id column.
    */
  private def topK(scored: DataFrame, batch: Batch, floor: Column, k: Int,
      queryIdCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("qidx")).orderBy(col("score").desc, col("id"))
    scored.filter(col("score") >= floor)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(batch.qid(col("qidx")).as(queryIdCol), col("id").as(idCol),
        col("score"), col("rank"))
  }

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

  /** The match_phrase clauses of a phrase batch: its distinct, non-empty
    * (qidx, canonical phrase) pairs, as literals the phrase gate and the
    * phrase → terms fan-out look up by clause index — a containment test
    * of candidate rows against literal phrases (the set-containment shape
    * of LCJoin), with no phrase table to join or broadcast.
    */
  private final class Clauses(batch: Batch) {
    private val clauses = batch.rows.distinct
    private val termsOf = clauses.map(_._2.split(" ").toSeq.filter(_.nonEmpty))
    /** Every phrase term, once. */
    val terms: Seq[String] = termsOf.flatten.distinct
    // (qidx, " phrase ") per clause: padded for whole-token containment
    private val padded = typedLit(clauses.map { case (q, p) => (q, s" $p ") })
    private val byTermLit = typedLit(byTerm(termsOf.zipWithIndex.flatMap {
      case (ts, i) => ts.map(i -> _) }))

    /** Whether clause `i`'s phrase occurs in the canonical `txt`. */
    def occursIn(txt: Column)(i: Column): Column =
      F.contains(concat(lit(" "), txt, lit(" ")), element_at(padded, i + 1)("_2"))

    /** The clauses whose phrase occurs in the canonical `txt`. */
    def matching(txt: Column): Column =
      filter(typedLit(clauses.indices.toArray), occursIn(txt)(_))

    /** Per tf row: the qidx of every `matched` clause holding the row's
      * term, once per occurrence of the term in the phrase — a clause
      * scores the boost-weighted BM25 sum over its term occurrences.
      */
    def fanOut(matched: Column => Column): Column =
      transform(filter(element_at(byTermLit, col("term")), matched),
        i => element_at(padded, i + 1)("_1"))

    /** The min_score floor of a scored row: `minScore`, or when None the
      * reference caller's tier for its query's phrase count.
      */
    def floor(minScore: Option[Double]): Column = minScore.fold {
      val np = clauses.groupBy(_._1).map { case (q, cs) => q -> cs.size.toLong }
      element_at(typedLit(batch.qids.indices.map(q =>
        phraseMinScore(np.getOrElse(q, 0L))).toArray), col("qidx") + 1)
    }(lit(_))
  }

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
    * `phraseQueries` is long-format: one row per (query_id, phrase);
    * duplicate rows and phrases of only whitespace count as no clause.
    * When `minScore` is None, each query gets the reference caller's
    * phrase-count tier ([[phraseMinScore]]); pass Some(x) to override.
    *
    * Scale shape: the phrase gate is evaluated AT THE CORPUS SCAN — one
    * `contains` per (row, field, phrase) against the literal phrase list,
    * no shuffle — and each (field, doc) row carries its matched clauses
    * through the query-term-restricted tf aggregation of [[bm25Scored]].
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
    val batch = batchOf(phraseQueries, queryIdCol, array(canonText(col(phraseCol))))
    val clauses = new Clauses(batch)
    val fieldsLong = fieldsLongOf(docs, fields, idCol, canonText)
      .withColumn("matched", clauses.matching(col("txt")))
    // matched depends on (field, id) alone, so max() keeps it
    val tf = tokensWithDl(fieldsLong, "matched")
      .filter(col("term").isin(clauses.terms: _*))
      .groupBy("field", "id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"),
        max(col("matched")).as("matched"))
      .localCheckpoint(true)
    val scored = scoreTail(withDf(tf),
      clauses.fanOut(i => array_contains(col("matched"), i)),
      corpusStats(docs, fields, canonText), k1, b)
    topK(scored, batch, clauses.floor(minScore), k, queryIdCol, idCol)
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
    // the two corpus passes (tf write, dlen write) are independent — run
    // them as concurrent jobs so the build pays one wave of cluster time,
    // not two sequential job latencies (guide §2.6: overlap independent
    // jobs); meta then derives from what the dlen write observed
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fTf = Future {
      tok.groupBy("field", "id", "term")
        .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
        .withColumn("tb", pmod(xxhash64(col("term")), lit(buckets.toLong)))
        .write.mode("overwrite").partitionBy("tb").parquet(s"$path/tf")
    }
    val (sums, nDocs) = writeDlen(docs, fieldsLong, fields, withText,
      dlenFilesFor(spark, inputBytes), "overwrite", path)
    Await.result(fTf, Duration.Inf)
    writeMeta(spark, path, sums, nDocs, buckets, withText, withDl = true)
  }

  /** Writes the dlen rows of a long view of `docs` to `$path/dlen` in
    * `mode`, coalesced to `files` when given, and returns meta's per-field
    * (field, sum_dl, cnt) rows and the doc count n, both OBSERVED on the
    * write, which already streams past every long-view row, one per (doc,
    * field) — so n counts the rows of the first field, docs with only
    * empty fields included, and no re-read or count job runs. The
    * observation completes in the write's result stage, whose
    * accumulators count each partition once, so a retried task adds
    * nothing. When a runtime never delivers it, the sums are aggregated
    * and collected and n is `docs.count()`.
    *
    * dl = 0 rows (a doc whose field is empty — e.g. short docs with no
    * content tail) are DROPPED: the tokenize path has no dlen row for an
    * empty field, and keeping zeros here would deflate avgdl vs the
    * direct path (observed: every indexed score off by ~0.3%).
    */
  private def writeDlen(docs: DataFrame, fieldsLong: DataFrame,
      fields: Seq[Field], withText: Boolean, files: Option[Int], mode: String,
      path: String): (Seq[(String, Long, Long)], Long) = {
    val dlenCols =
      if (withText) Seq(col("field"), col("id"), col("dl"), col("txt"))
      else Seq(col("field"), col("id"), col("dl"))
    val withDl = fieldsLong.withColumn("dl", dlOf(col("txt")))
    val obs = new org.apache.spark.sql.Observation()
    val obsCols = metaObsCols(fields)
    val rows = withDl.observe(obs, obsCols.head, obsCols.tail: _*)
      .filter(col("dl") > 0)
      .select(dlenCols: _*)
    files.fold(rows)(rows.coalesce).write.mode(mode).parquet(s"$path/dlen")
    (observedSums(obs, fields).getOrElse(sumsOf(withDl.filter(col("dl") > 0))),
      graft.ObservedMetrics.longField(obs, "__n")(docs.count()))
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

  /** Observation columns of a dlen write, over the long view before its
    * dl > 0 filter: the doc count `__n` (one row per doc carries the first
    * field) and per field the (sum_dl, cnt) pair of its non-empty rows,
    * read back by [[observedSums]].
    */
  private def metaObsCols(fields: Seq[Field]): Seq[Column] =
    count(when(col("field") === fields.head.name, lit(1))).as("__n") +:
      fields.zipWithIndex.flatMap { case (f, i) =>
        val kept = col("field") === f.name && col("dl") > 0
        Seq(sum(when(kept, col("dl"))).as(s"__s$i"),
          count(when(kept, lit(1))).as(s"__c$i"))
      }

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
    // the two delta passes (tf append, dlen append) are independent —
    // concurrent jobs, mirroring bm25Index; the delta's per-field sums and
    // doc count RIDE the dlen append as an observation ([[writeDlen]])
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fTf = Future {
      tfOut
        .withColumn("tb", pmod(xxhash64(col("term")), lit(buckets.toLong)))
        .write.mode("append").partitionBy("tb").parquet(s"$path/tf")
    }
    val (deltaSums, nNew) = writeDlen(newDocs, fieldsLong, fields, withText,
      dlenFilesFor(spark, deltaBytes), "append", path)
    Await.result(fTf, Duration.Inf)
    // meta: old sums (the meta rows read above) + delta sums, merged per
    // field on the driver — never re-reads dlen or meta
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

  /** Read the field-count-sized meta table ONCE on the driver: per-field
    * avgdl, n and the index's stored bucket count. A probe's meta needs
    * are a handful of scalars, planned as literals; an empty meta (an
    * empty-corpus index, whose tf is empty too) gives no fields, n = 0 and
    * one bucket. A meta without `term_buckets` fails analysis.
    */
  private def metaLocal(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): (Map[String, Double], Long, Int) = {
    val rows = PartitionProbe.readParquet(spark, s"$indexPath/meta")
      .select(col("field"), col("avgdl"), col("n"), col("term_buckets")).collect()
    (rows.map(r => r.getString(0) -> r.getDouble(1)).toMap,
      rows.map(_.getLong(2)).foldLeft(0L)(math.max),
      rows.headOption.fold(1)(_.getInt(3)))
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

  /** A term's bucket pmod(xxhash64(term), B), hashed on the driver with
    * the function Spark's `xxhash64` evaluates (seed 42).
    */
  private def bucketOf(term: String, buckets: Int): Long = {
    val h = XxHash64Function.hash(UTF8String.fromString(term), StringType, 42L)
    ((h % buckets) + buckets) % buckets
  }

  /** The postings of `terms` in `fields`, read from the terms' `tb=`
    * directories only (one driver `listStatus` of the tf root, no
    * partition-discovery job) under a `tb` PARTITION filter covering the
    * same buckets, and whether they carry dl.
    */
  private def probedTf(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      terms: Seq[String], fields: Iterable[String], termBuckets: Int): (DataFrame, Boolean) = {
    val buckets = terms.map(bucketOf(_, termBuckets)).distinct
    val raw = PartitionProbe.read(spark, s"$indexPath/tf", "tb", buckets)
    (raw.filter(col("tb").isin(buckets: _*) && col("term").isin(terms: _*) &&
      col("field").isin(fields.toSeq: _*)), raw.columns.contains("dl"))
  }

  /** Indexed probe: identical results to [[bm25TopK]] over the same docs /
    * fields (boosts are query-time), but the corpus is never re-tokenized —
    * tf is read from the query terms' buckets only ([[probedTf]]), df
    * aggregates that pruned slice (all rows for a term live in its one
    * bucket, so df is exact), and meta is one driver read, which also gives
    * the stored bucket count the query terms hash with. dl rides the
    * postings, so only an index written before the dl column joins dlen.
    * The docfreq broadcast is the plan's only broadcast.
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
    val (avgdl, n, termBuckets) = metaLocal(spark, indexPath)
    val batch = batchOf(queries, queryIdCol, split(lower(col(queryTextCol)), " "))
    val terms = byTerm(batch.rows)
    val stats = fieldStats(fields, avgdl, n)
    val (tf, hasDl) = probedTf(spark, indexPath, terms.keys.toSeq, stats.keys, termBuckets)
    // docfreq re-evaluates the tb-PRUNED scan (B⁻¹ of the index — bounded,
    // unlike the direct path's corpus re-tokenize), the price of keeping
    // the probe's tb PartitionFilters visible in its own plan
    // (spec-asserted). Only a pre-dl index pays the corpus-sized dlen join
    val tfd =
      if (hasDl) withDf(tf)
      else withDf(tf).join(PartitionProbe.readParquet(spark, s"$indexPath/dlen")
        .select("field", "id", "dl"), Seq("field", "id"))
    topK(scoreTail(tfd, element_at(typedLit(terms), col("term")), stats, k1, b),
      batch, lit(minScore), k, queryIdCol, idCol)
  }

  /** Indexed phrase probe — [[bm25PhraseTopK]] semantics over a
    * [[bm25Index]] written `withText = true`: identical results, but the
    * corpus is never re-tokenized AND the match_phrase gate runs over
    * CANDIDATE rows only. Where the direct path evaluates contains() at
    * the full corpus scan (mandatory there — it is tokenizing anyway),
    * here each posting of a phrase term from the tb-pruned tf slice joins
    * its stored canonical text by (field, id), so at 100 TB the gate
    * touches candidate postings, not the corpus — the
    * positions-of-matched-postings shape of a real search engine. Like
    * [[bm25TopKIndexed]], the phrase terms hash with the bucket count
    * stored in meta, and the tf read lists only their `tb=` directories.
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
    val (avgdl, n, termBuckets) = metaLocal(spark, indexPath)
    val batch = batchOf(phraseQueries, queryIdCol, array(canonText(col(phraseCol))))
    val clauses = new Clauses(batch)
    val stats = fieldStats(fields, avgdl, n)
    val (tf, hasDl) = probedTf(spark, indexPath, clauses.terms, stats.keys, termBuckets)
    val dlen = PartitionProbe.readParquet(spark, s"$indexPath/dlen")
    require(dlen.columns.contains("txt"),
      "bm25PhraseTopKIndexed needs an index written withText = true")
    // dl straight off the posting when the index carries it; dlen then
    // only serves the candidate-text gate
    val text = if (hasDl) Seq("field", "id", "txt") else Seq("field", "id", "txt", "dl")
    val scored = scoreTail(withDf(tf).join(dlen.select(text.map(col): _*), Seq("field", "id")),
      clauses.fanOut(clauses.occursIn(col("txt"))), stats, k1, b)
    topK(scored, batch, clauses.floor(minScore), k, queryIdCol, idCol)
  }
}
