package perfbench

import graft.ops.{Dedup, Search}
import graft.ops.Search.Field
import java.io.File
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable

/** The extracted corpus's downstream path: a BM25 index over day 0, an
  * append of day 1, a batch of indexed term, indexed phrase and query-stats
  * probes, then near-duplicate removal over a corpus with planted
  * duplicates.
  */
final class CorpusOps(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val corpus = new Gen.Corpus(Gen.CorpusCfg(seed = ctx.seed, day0 = 450,
    day1 = 150, vocab = 1200, dupPerMille = 60, termQueries = 12, phraseQueries = 6))
  private val fields = Seq(Field("question", 5.0), Field("answer", 3.0), Field("content", 2.0))
  private val Threshold = 0.5
  private var docs: DataFrame = _
  private var day0: DataFrame = _
  private var day1: DataFrame = _
  private var termQ: DataFrame = _
  private var phraseQ: DataFrame = _
  private val sizes = mutable.Map.empty[String, Double]

  def setup(): Unit = {
    val c = corpus
    val path = new File(ctx.work, "corpus").getAbsolutePath
    spark.range(0, c.size.toLong, 1, ctx.cores * 2).map(i => c.doc(i.toInt))
      .write.parquet(path)
    docs = spark.read.parquet(path).select("id", "question", "answer", "content", "day")
      .withColumnRenamed("id", "doc_id")
    day0 = docs.filter($"day" === 0)
    day1 = docs.filter($"day" === 1)
    termQ = c.termQueries.toDF("query_id", "qtext")
    phraseQ = c.phraseQueries.toDF("query_id", "phrase")
  }

  private def rows(df: DataFrame): Vector[Row] = df.collect().toVector

  def run(dir: File): Outcome = {
    val sp = ctx.spans
    val idx = new File(dir, "index").getAbsolutePath
    sp("search.index") { Search.bm25Index(day0, fields, idx) }
    sizes("index") = Main.dirBytes(new File(idx)).toDouble
    sp("search.append") { Search.bm25IndexAppend(day1, fields, idx) }
    sizes("append") = Main.dirBytes(new File(idx)) - sizes("index")
    val terms = sp("search.probe.terms") { rows(Search.bm25TopKIndexed(spark, idx, termQ, fields)) }
    val phrase = sp("search.probe.phrase") {
      rows(Search.bm25PhraseTopKIndexed(spark, idx, phraseQ, fields))
    }
    val stats = sp("search.probe.stats") { rows(Search.bm25QueryStats(docs, fields, termQ)) }
    val (pairs, kept) = sp("dedup") {
      val p = Dedup.minhashLshPairs(docs, "content", "doc_id", jaccardThreshold = Threshold)
      (rows(p), rows(Dedup.keepClusterRepresentatives(docs, p, "doc_id").select("doc_id")))
    }
    sizes("pairs") = pairs.size
    Outcome(corpus.size.toLong, 6, Main.dirBytes(new File(idx)),
      () => check(dir, terms, phrase, stats, pairs, kept))
  }

  def probe(): Unit = ()

  def layers(): Map[String, Double] = {
    def w(name: String) = new Window(ctx.rec, ctx.spans.all(name))
    val index = w("search.index"); val append = w("search.append")
    val dedup = w("dedup")
    Map(
      "search.index.wall_ms" -> index.wallMs, "search.index.task_cpu_ms" -> index.cpuMs,
      "search.index.bytes" -> sizes("index"),
      "search.append.wall_ms" -> append.wallMs, "search.append.task_cpu_ms" -> append.cpuMs,
      "search.append.bytes" -> sizes("append"),
      "dedup.wall_ms" -> dedup.wallMs, "dedup.task_cpu_ms" -> dedup.cpuMs,
      "dedup.shuffle_bytes" -> dedup.shuffleBytes, "dedup.pairs" -> sizes("pairs")) ++
      Seq("terms", "phrase", "stats").flatMap { p =>
        val x = w(s"search.probe.$p")
        Seq(s"search.probe.$p.wall_ms" -> x.wallMs, s"search.probe.$p.task_cpu_ms" -> x.cpuMs,
          s"search.probe.$p.scan_bytes" -> x.inputBytes)
      }
  }

  private def require(cond: Boolean, what: => String): Unit =
    if (!cond) throw new IllegalStateException(s"check failed: $what")

  // ------------------------------------------------------------- checks

  /** BM25 over the generated documents, in plain Scala. */
  private lazy val scalar = new ScalarBm25((0 until corpus.size).map(corpus.doc), fields)

  private def topk(rs: Seq[Row]): Vector[(Long, Long, Double, Int)] =
    rs.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
      r.getAs[Double]("score"), r.getAs[Int]("rank"))).toVector.sorted

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1.5e-6

  private def check(dir: File, terms: Vector[Row], phrase: Vector[Row],
      stats: Vector[Row], pairs: Vector[Row], kept: Vector[Row]): Unit = {
    val t = topk(terms)
    val direct = topk(rows(Search.bm25TopK(docs, fields, termQ)))
    require(t == direct, s"indexed top-k differs from bm25TopK: ${t.size} vs ${direct.size} rows")
    require(t.nonEmpty, "no term hits")
    val qText = corpus.termQueries.toMap
    t.foreach { case (q, d, s, _) =>
      val want = scalar.score(qText(q).split(" ").toSeq, d)
      require(close(s, want), s"query $q doc $d score $s, scalar $want")
    }
    val ph = topk(phrase)
    require(ph.nonEmpty, "no phrase hits")
    val phrases = corpus.phraseQueries.groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2) }
    ph.foreach { case (q, d, s, _) =>
      val want = scalar.phraseScore(phrases(q), d)
      require(close(s, want), s"phrase query $q doc $d score $s, scalar $want")
    }
    stats.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val scores = scalar.scores(qText(q).split(" ").toSeq)
      require(r.getAs[Long]("total_count") == scores.size,
        s"query $q total_count ${r.getAs[Long]("total_count")} vs ${scores.size}")
      if (scores.nonEmpty)
        require(close(r.getAs[Double]("max_score"), scores.values.max), s"query $q max_score")
    }
    require(stats.size == qText.size, s"${stats.size} stats rows")

    // build-then-append answers like one build over both days
    val whole = new File(dir, "index-whole").getAbsolutePath
    Search.bm25Index(docs, fields, whole)
    require(topk(rows(Search.bm25TopKIndexed(spark, whole, termQ, fields))) == t,
      "append index differs from a single build (terms)")
    require(topk(rows(Search.bm25PhraseTopKIndexed(spark, whole, phraseQ, fields))) == ph,
      "append index differs from a single build (phrases)")

    // dedup: planted pairs found, every pair verified, survivors consistent
    val got = pairs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard")))
    val found = got.map(p => (p._1, p._2)).toSet
    corpus.plantedPairs.foreach { p => require(found(p), s"planted pair $p not found") }
    val text = (0 until corpus.size).map(i => (i + 1L) -> corpus.doc(i).content).toMap
    got.foreach { case (a, b, j) =>
      val mine = ScalarBm25.jaccard(text(a), text(b))
      require(mine >= Threshold && close(j, mine), s"pair ($a, $b) jaccard $j, recomputed $mine")
    }
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    got.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val losers = got.flatMap(p => Seq(p._1, p._2)).filter(x => find(x) != x).toSet
    val keptIds = kept.map(_.getLong(0)).toSet
    require(keptIds == text.keySet -- losers, s"${keptIds.size} survivors, expected " +
      s"${text.size - losers.size}")
  }
}

/** BM25 and shingle Jaccard computed outside Spark, with the program's
  * documented formulas: Lucene idf and saturation (k1 1.2, b 0.75),
  * per-field average length over non-empty fields, boosts per field.
  */
final class ScalarBm25(docs: Seq[Gen.Doc], fields: Seq[Field]) {
  private val k1 = 1.2
  private val b = 0.75
  private val n = docs.size.toDouble
  private val toks: Map[String, Map[Long, Array[String]]] = fields.map { f =>
    f.name -> docs.map { d =>
      val txt = f.name match {
        case "question" => d.question; case "answer" => d.answer; case _ => d.content
      }
      d.id -> txt.toLowerCase.split(" ").filter(_.nonEmpty)
    }.toMap
  }.toMap
  private val avgdl: Map[String, Double] = toks.map { case (f, m) =>
    val ls = m.values.map(_.length).filter(_ > 0)
    f -> ls.sum.toDouble / ls.size
  }
  private val df: Map[String, Map[String, Int]] = toks.map { case (f, m) =>
    f -> m.values.flatMap(_.distinct).groupBy(identity).map { case (t, xs) => t -> xs.size }
  }

  private def termScore(f: Field, t: String, d: Long): Double = {
    val tk = toks(f.name)(d)
    val tf = tk.count(_ == t)
    if (tf == 0) 0.0
    else {
      val dfv = df(f.name)(t).toDouble
      val idf = math.log(1.0 + (n - dfv + 0.5) / (dfv + 0.5))
      f.boost * idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * tk.length / avgdl(f.name)))
    }
  }

  def score(q: Seq[String], d: Long): Double =
    fields.map(f => q.map(t => termScore(f, t, d)).sum).sum

  /** Every document matching at least one query term, with its score. */
  def scores(q: Seq[String]): Map[Long, Double] =
    docs.map(_.id).filter(d => fields.exists(f => q.exists(t => toks(f.name)(d).contains(t))))
      .map(d => d -> score(q, d)).toMap

  /** match_phrase clauses: each (phrase, field) whose words appear
    * consecutively adds its terms' scores.
    */
  def phraseScore(phrases: Seq[String], d: Long): Double =
    phrases.map { p =>
      val pt = p.split(" ").filter(_.nonEmpty)
      fields.map { f =>
        val txt = " " + toks(f.name)(d).mkString(" ") + " "
        if (txt.contains(" " + pt.mkString(" ") + " ")) pt.map(t => termScore(f, t, d)).sum
        else 0.0
      }.sum
    }.sum
}

object ScalarBm25 {
  private def shingles(s: String): Set[String] = {
    val w = s.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
    if (w.length < 3) (if (w.isEmpty) Set.empty else Set(w.mkString(" ")))
    else w.sliding(3).map(_.mkString(" ")).toSet
  }
  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}
