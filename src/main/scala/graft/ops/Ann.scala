package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]) — replaces the
  * reference's ES dense_vector kNN (/root/reference/src/
  * elasticsearch_service.py:339-369, cosine / HNSW) with Spark-native
  * plans: brute-force cosine top-k as the exact baseline, and an LSH
  * (random-hyperplane) bucketed variant as the 100 TB scale path.
  *
  * Dot products use built-in higher-order functions (zip_with + aggregate)
  * in double precision — codegen'd, no UDF.
  */
object Ann {

  /** cosine(a, b) as a double Column over two array<float> columns.
    * Zero-norm vectors yield 0.0, NOT null — Spark's non-ANSI divide
    * returns null on /0, which would leak null cosines into top-k output
    * and diverge from the typed Sketches.cosine the LSH path uses.
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (s, v) => s + v)
    val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (s, v) => s + v))
    val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), (s, v) => s + v))
    val denom = na * nb
    when(denom > 0.0, dot / denom).otherwise(lit(0.0))
  }

  /** Exact brute-force top-k neighbors for each query id: broadcast the
    * (small) query set against the full corpus, rank per query. The corpus
    * side streams — never collected — so this scales to any corpus size;
    * cost is |corpus| × |queries| dot products.
    */
  def bruteForceTopK(
      corpus: DataFrame, // (id, embedding)
      queries: DataFrame, // (qid, q_embedding)
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // ids cast long like every IVF/LSH path: without it a non-long idCol
    // ranks lexicographically here and numerically there, breaking the
    // documented "ivfTopK(nprobe = nlist) == bruteForceTopK" contract
    val c = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val q = queries.select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv"))
    val scored = c.join(broadcast(q), col("id") =!= col("qid"))
      .withColumn("cos", cosine(col("v"), col("qv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id").as("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cosine"))
  }

  /** K-means coarse quantizer for IVF search (Lloyd's iterations, cosine
    * metric on L2-normalized vectors). Deterministic: init = the `nlist`
    * smallest ids; each iteration computes per-partition partial sums in a
    * typed mapPartitions (no per-row shuffle — partials are (cid, sum,
    * count) rows, ≤ partitions×nlist of them), merges them with a map-side-
    * combining reduceGroups, and collects nlist rows to the driver. Train
    * on a deterministic 1/`trainModulus` id-hash slice for huge corpora —
    * the quantizer only needs a representative sample.
    */
  def kmeansCentroids(
      corpus: DataFrame,
      nlist: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trainModulus: Int = 1): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val all = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // persist the train slice: it feeds the init orderBy + `iters` partial-sum
    // passes — without persistence that is (iters+1) full corpus scans at
    // trainModulus=1. The slice is sampled precisely so it fits (disk-backed
    // when it doesn't). Spread it to the session's parallelism first when the
    // source reads as fewer splits (a small table or an aggressive
    // trainModulus): every per-iteration assignment pass is a CPU-bound
    // mapPartitions over this frame, and a single-split slice pins all
    // `iters` passes to one core. No-op (no exchange) when the slice is
    // already at least session-parallel.
    val sliced = if (trainModulus > 1)
      all.filter(pmod(xxhash64($"id"), lit(trainModulus)) === 0) else all
    val target = spark.sparkContext.defaultParallelism
    // only worth an exchange when the slice is at least split-sized —
    // for a small slice the repartition costs more than the serial
    // assignment passes it parallelizes (measured at the sf0.1 gate)
    val bigEnough = sliced.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(64L << 20)
    val train = (if (!bigEnough || sliced.rdd.getNumPartitions >= target) sliced
                 else sliced.repartition(target))
      .as[(Long, Array[Float])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def normalize(v: Array[Float]): Array[Float] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
      val n = math.sqrt(s)
      if (n == 0.0) v else { val o = new Array[Float](v.length); i = 0
        while (i < v.length) { o(i) = (v(i) / n).toFloat; i += 1 }; o }
    }
    def nearest(cs: Array[Array[Float]], v: Array[Float]): Int = {
      var best = 0; var bestDot = Double.MinValue; var c = 0
      while (c < cs.length) {
        val cv = cs(c); var d = 0.0; var i = 0
        while (i < v.length) { d += cv(i).toDouble * v(i); i += 1 }
        if (d > bestDot) { bestDot = d; best = c }
        c += 1
      }
      best
    }

    var centroids = train.orderBy($"id").limit(nlist).collect()
      .map { case (_, v) => normalize(v) }
    require(centroids.nonEmpty, "empty training set")
    val dim = centroids(0).length
    for (_ <- 1 to iters) {
      val cB = spark.sparkContext.broadcast(centroids)
      val merged = train
        .mapPartitions { it =>
          val cs = cB.value
          val acc = Array.fill(cs.length)(new Array[Double](dim))
          val cnt = new Array[Long](cs.length)
          it.foreach { case (_, raw) =>
            val v = normalize(raw)
            val c = nearest(cs, v)
            val a = acc(c); var i = 0
            while (i < dim) { a(i) += v(i); i += 1 }
            cnt(c) += 1
          }
          (0 until cs.length).iterator.filter(cnt(_) > 0)
            .map(c => (c, (acc(c), cnt(c))))
        }
        .groupByKey(_._1)
        .reduceGroups { (a, b) =>
          val (va, na) = a._2; val (vb, nb) = b._2
          var i = 0; while (i < dim) { va(i) += vb(i); i += 1 }
          (a._1, (va, na + nb))
        }
        .map { case (c, (_, (sum, n))) => (c, sum.map(x => (x / n).toFloat)) }
        .collect()
      val next = centroids.clone() // empty clusters keep their centroid
      merged.foreach { case (c, mean) => next(c) = normalize(mean) }
      centroids = next
    }
    train.unpersist(false)
    centroids
  }

  /** IVF (inverted-file) approximate top-k: corpus vectors live in the
    * posting list of their nearest coarse centroid; each query scans only
    * its `nprobe` nearest lists. At scale the assignment is the partition
    * key (write the corpus clustered by cid once; queries read nprobe/nlist
    * of the data). With nprobe == nlist the search is exhaustive and equals
    * bruteForceTopK exactly — the oracle configuration.
    *
    * Queries are broadcast (small side); the corpus streams through one
    * fused assign+join stage — no corpus-side shuffle at all.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nlist: Int,
      nprobe: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trainModulus: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = kmeansCentroids(corpus, nlist, iters, idCol, vecCol, trainModulus)
    val cB = spark.sparkContext.broadcast(centroids)

    val queryProbes = queryProbesDF(queries, cB, nprobe, idCol, vecCol)

    val assigned = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (nearestProbes(cB.value, v, 1)(0), id, v) }
      .toDF("cid", "id", "v")

    rankProbed(assigned, queryProbes, k)
  }

  /** Top-`n` probe lists for a raw vector against normalized centroids
    * (cosine order; deterministic tie-break on centroid index).
    */
  private[ops] def nearestProbes(cs: Array[Array[Float]], v: Array[Float],
      n: Int): Array[Int] = {
    val dots = cs.indices.map { c =>
      val cv = cs(c); var d = 0.0; var s = 0.0; var i = 0
      while (i < v.length) { d += cv(i).toDouble * v(i); s += v(i).toDouble * v(i); i += 1 }
      (c, if (s == 0) 0.0 else d / math.sqrt(s))
    }
    dots.sortBy { case (c, d) => (-d, c) }.take(n).map(_._1).toArray
  }

  /** (cid, qid, qv) — each query replicated to its nprobe lists. */
  private def queryProbesDF(queries: DataFrame,
      cB: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]],
      nprobe: Int, idCol: String, vecCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries
      .select(col(idCol).cast("long").as("qid"), col(vecCol).as("qv"))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, qv) =>
        nearestProbes(cB.value, qv, nprobe).iterator.map(c => (c, qid, qv))
      }
      .toDF("cid", "qid", "qv")
  }

  /** Probe join + per-query rank shared by the one-shot and the
    * clustered-table IVF paths.
    */
  private def rankProbed(assigned: DataFrame, queryProbes: DataFrame,
      k: Int): DataFrame = {
    val scored = assigned.join(broadcast(queryProbes), Seq("cid"))
      .filter(col("id") =!= col("qid"))
      .withColumn("cos", cosine(col("v"), col("qv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id").as("neighbor_id"), col("rank"),
        round(col("cos"), 6).as("cosine"))
  }

  /** Materialize the IVF layout: assign every corpus vector to its nearest
    * coarse centroid and write parquet PARTITIONED BY cid — the one-time
    * ingest that makes searches read only their probed lists. Returns the
    * trained centroids (persist them alongside the table; they are KBs).
    * At 100 TB this is the difference between scanning the corpus per
    * query batch (ivfTopK) and scanning nprobe/nlist of it.
    */
  def writeClustered(
      corpus: DataFrame,
      path: String,
      nlist: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trainModulus: Int = 1): Array[Array[Float]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = kmeansCentroids(corpus, nlist, iters, idCol, vecCol, trainModulus)
    val cB = spark.sparkContext.broadcast(centroids)
    corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (nearestProbes(cB.value, v, 1)(0), id, v) }
      .toDF("cid", "id", "v")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cid").parquet(path)
    centroids
  }

  /** Incremental maintenance of a [[writeClustered]] layout: assign a NEW
    * vector batch to the EXISTING centroids (no retraining, no corpus
    * rewrite — the daily-ingest path, like [[Dedup.minhashLshPairsIncremental]]
    * for the LSH index) and append each row to its cid partition. Searches
    * via [[ivfTopKClustered]] see the appended vectors immediately; the
    * coarse quantizer drifts only as much as the data does, and a periodic
    * [[writeClustered]] rebuild re-trains it. Append-per-partition keeps
    * the operation O(delta): only the delta shuffles (by nothing — the
    * assignment is a map and the write is partition-append).
    */
  def appendClustered(
      newVecs: DataFrame,
      path: String,
      centroids: Array[Array[Float]],
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = newVecs.sparkSession
    import spark.implicits._
    val cB = spark.sparkContext.broadcast(centroids)
    newVecs
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (nearestProbes(cB.value, v, 1)(0), id, v) }
      .toDF("cid", "id", "v")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cid").parquet(path)
  }

  /** IVF search over a [[writeClustered]] table: the probed-cid filter is a
    * PARTITION filter on the clustered layout, so the scan touches only the
    * union of the queries' nprobe lists (PartitionFilters in the plan —
    * PLANS.md), never the whole corpus, and the read lists only the probed
    * `cid=` directories ([[PartitionProbe.read]]), so a layout with more
    * than 32 lists runs no per-probe partition-discovery job. With nprobe ==
    * nlist it is exhaustive and equals bruteForceTopK exactly (the oracle
    * config).
    */
  def ivfTopKClustered(
      spark: org.apache.spark.sql.SparkSession,
      clusteredPath: String,
      centroids: Array[Array[Float]],
      queries: DataFrame,
      k: Int,
      nprobe: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cB = spark.sparkContext.broadcast(centroids)
    val queryProbes = queryProbesDF(queries, cB, nprobe, idCol, vecCol)
    // the probed cid set is queries×nprobe ints — driver-side by design
    // (it must become a partition-pruning predicate)
    val cids = queryProbes.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val assigned = PartitionProbe.read(spark, clusteredPath, "cid", cids)
      .filter(col("cid").isin(cids: _*))
    rankProbed(assigned, queryProbes, k)
  }

  /** LSH (random-hyperplane) approximate neighbor candidates: vectors
    * sharing a signature in any of `tables` hash tables become candidates;
    * exact cosine verifies. Hyperplanes are deterministic from the seed,
    * generated driver-side (KBs) and broadcast; per-row signatures run in a
    * typed flatMap (tight loops — nested Catalyst lambdas are interpreted).
    *
    * Shuffle shape (the 100 TB contract, same as Dedup.minhashLshPairs):
    * the band self-join carries ONLY (table, signature, id) triples — at
    * 3072-dim × many tables, shipping vectors through the join would
    * multiply shuffle volume by tables × dim. Vectors are re-joined from
    * the corpus only for the DEDUPED candidate pairs' verify step.
    */
  def lshCandidatePairs(
      corpus: DataFrame,
      bits: Int = 16,
      tables: Int = 4,
      dim: Int = 64,
      minCosine: Double = 0.7,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val planes = Sketches.hyperplanes(tables, bits, dim, seed)
    val planesB = spark.sparkContext.broadcast(planes)

    val vecs = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))

    val signed = vecs
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val p = planesB.value
        (0 until p.length).iterator.map(t => (t, Sketches.rhpSignature(v, p(t)), id))
      }
      .toDF("t", "sig", "id")

    val l = signed.select(col("t"), col("sig"), col("id").as("id_a"))
    val r = signed.select(col("t"), col("sig"), col("id").as("id_b"))
    val candidates = l.join(r, Seq("t", "sig"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")

    candidates
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("v_a"), col("v_b"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .map { case (idA, idB, vA, vB) => (idA, idB, Sketches.cosine(vA, vB)) }
      .toDF("id_a", "id_b", "cosine")
      .filter(col("cosine") >= minCosine)
      .withColumn("cosine", round(col("cosine"), 6))
  }
}
