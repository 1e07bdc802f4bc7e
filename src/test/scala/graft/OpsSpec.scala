package graft

import graft.ops.{Ann, CharLm, Dedup, Multimodal, Sketches, TextStats}
import org.apache.spark.sql.functions._

/** Semantic tests for the training-data ops that have no SQL oracle:
  * MinHash/SimHash recall against exact ground truth, LSH vs brute-force,
  * multimodal plumbing determinism.
  */
class OpsSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val docs = {
    // corpus with known duplicate structure: 40 base docs, 10 exact dups,
    // 10 near-dups (one word changed), rest distinct
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    def text(seed: Long, n: Int): String =
      (0 until n).map(i => words(((Sketches.mix(seed + i) >>> 8) % words.length).toInt.abs))
        .mkString(" ")
    val base = (0L until 40L).map(i => (i, text(i * 7919, 30)))
    val exactDups = (0L until 10L).map(i => (100L + i, base(i.toInt)._2))
    val nearDups = (0L until 10L).map { i =>
      val t = base(i.toInt)._2.split(" ")
      t(15) = "CHANGED"
      (200L + i, t.mkString(" "))
    }
    (base ++ exactDups ++ nearDups).toDF("doc_id", "text").cache()
  }

  test("exact dedup: groups and keep-first find precisely the planted dups") {
    val groups = Dedup.exactDupGroups(docs, "text", "doc_id").collect()
    assert(groups.length == 10)
    groups.foreach(r => assert(r.getAs[Long]("dup_count") == 2))
    val kept = Dedup.exactKeepFirst(docs, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.size == 50) // 60 docs - 10 dropped dups
    (0L until 10L).foreach(i => assert(kept.contains(i) && !kept.contains(100L + i)))
  }

  test("exact keep-first: two-phase min_by agg matches a window keep-first on a hot key") {
    // skew fixture: one boilerplate text duplicated 5000x (the 100 TB
    // failure mode for a window partitioned by content hash) + uniques
    val spark2 = spark
    import spark2.implicits._
    val hot = (0L until 5000L).map(i => (i, "boilerplate error page body", s"m$i"))
    val uniq = (5000L until 5200L).map(i => (i, s"unique text $i", s"m$i"))
    val skewed = (hot ++ uniq).toDF("doc_id", "text", "meta").repartition(8)
    val kept = Dedup.exactKeepFirst(skewed, "text", "doc_id")
    // reference semantics: row_number window keep-first
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val ref = skewed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val keptRows = kept.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val refRows = ref.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(keptRows == refRows)
    assert(keptRows.size == 201 && keptRows.exists(_._1 == 0L))
    // plan shape: an aggregate with a partial (map-side combine) phase and
    // NO window/global-sort over the content hash — the skew-tolerance claim
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("Aggregate"), plan)
    assert(plan.toLowerCase.contains("partial"), plan)

    // null ids: min_by IGNORES null ordering keys — the (isNotNull, id)
    // struct key must keep them nulls-first like the window reference did
    val withNulls = Seq(
      (java.lang.Long.valueOf(7L), "shared body"),
      (null.asInstanceOf[java.lang.Long], "shared body"), // null wins (nulls first)
      (null.asInstanceOf[java.lang.Long], "only null copy")
    ).toDF("doc_id", "text")
    val keptN = Dedup.exactKeepFirst(withNulls, "text", "doc_id")
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1)))
      .toSet
    assert(keptN == Set((None, "shared body"), (None, "only null copy")),
      s"null-id rows must not vanish and must win nulls-first: $keptN")

    // reserved temp names are rejected loudly, not silently miscomputed
    intercept[IllegalArgumentException] {
      Dedup.exactKeepFirst(skewed.withColumn("__keep", lit(1)), "text", "doc_id")
    }
  }

  test("incremental LSH: delta vs persisted index == batch pairs restricted to the delta") {
    val spark2 = spark
    import spark2.implicits._
    val corpusRows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    // delta batch: an exact copy of one corpus doc, a near-dup of another
    // (one word changed), an identical within-delta twin pair, and a unique
    val mutated = { val w = corpusRows(1)._2.split(" "); w(3) = "MUTATED"; w.mkString(" ") }
    val delta = Seq(
      (10000L, corpusRows(0)._2),
      (10001L, mutated),
      (10002L, "delta twin delta twin delta twin delta twin delta twin words"),
      (10003L, "delta twin delta twin delta twin delta twin delta twin words"),
      (10004L, "wholly unique delta content nothing like the corpus at all here")
    ).toDF("doc_id", "text")
    val index = Dedup.lshBandIndex(docs, "text", "doc_id")
    val inc = Dedup.minhashLshPairsIncremental(docs, index, delta, "text", "doc_id",
        jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the batch operator over corpus ∪ delta, restricted to
    // pairs touching the delta — same hash seeds, so exact equality holds
    val deltaIds = (10000L to 10004L).toSet
    val batch = Dedup.minhashLshPairs(docs.unionByName(delta), "text", "doc_id",
        jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => deltaIds(p._1) || deltaIds(p._2)).toSet
    assert(inc == batch)
    assert(inc.contains((corpusRows(0)._1, 10000L, 1.0))) // exact copy vs index
    assert(inc.contains((10002L, 10003L, 1.0)))           // within-delta twins
    assert(inc.exists(p => p._2 == 10001L || p._1 == 10001L)) // near-dup found
    assert(!inc.exists(p => p._1 == 10004L || p._2 == 10004L)) // unique stays unpaired
  }

  test("incremental LSH gate bound: estimate veto blocks a mis-bounded broadcast; all routes agree") {
    val spark2 = spark
    import spark2.implicits._
    val corpusRows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    // enough rows that the LocalRelation size estimate (~28 bytes/row)
    // clears the vetoed route's 1024-byte threshold below
    val delta = (Seq(
      (20000L, corpusRows(0)._2),
      (20001L, "wholly unique delta content nothing like the corpus at all here"),
      (20002L, "delta twin delta twin delta twin delta twin delta twin words"),
      (20003L, "delta twin delta twin delta twin delta twin delta twin words")
    ) ++ (0 until 60).map(i =>
      (20100L + i, s"filler row number $i about topic-$i alone entirely unshared")
    )).toDF("doc_id", "text")
    val index = Dedup.lshBandIndex(docs, "text", "doc_id")
    // eager=false keeps the logical plan live for hint inspection
    def pairs(known: Option[Long], maxB: Long) =
      Dedup.minhashLshPairsIncremental(docs, index, delta, "text", "doc_id",
        jaccardThreshold = 0.5, eager = false,
        maxBroadcastDeltaDocs = maxB, knownDeltaDocs = known)
    val gated = pairs(None, 2000000L)      // estimate gate (no bound)
    val hinted = pairs(Some(4L), 2000000L) // sound bound → broadcast route
    // bound claims broadcastable but the computable estimate says the
    // delta outweighs the gate (maxB=2 → 1024-byte veto threshold):
    // the spike-batch case — must route to the shuffle join, not crash
    val vetoed = pairs(Some(1L), 2L)
    assert(hinted.queryExecution.optimizedPlan.toString.contains("broadcast"),
      "sound bound must keep the broadcast hint")
    assert(!vetoed.queryExecution.optimizedPlan.toString.contains("broadcast"),
      "estimate veto must strip the broadcast hint on a mis-bounded delta")
    def res(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ref = res(gated)
    assert(ref.nonEmpty)
    assert(res(hinted) == ref, "broadcast-route pairs diverged")
    assert(res(vetoed) == ref, "veto-route pairs diverged")
  }

  test("minhash LSH: finds all exact dups and near-dups above threshold") {
    // exact ground truth: word-shingle jaccard >= 0.8, computed scalar-side
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val sh = rows.map { case (id, t) => id -> Sketches.shingles(t, 3) }.toMap
    val exact = (for {
      (a, _) <- rows; (b, _) <- rows if a < b
      if Sketches.jaccard(sh(a), sh(b)) >= 0.8
    } yield (a, b)).toSet
    assert(exact.size >= 10) // at least the planted exact dups

    val verified = Dedup.minhashLshPairs(docs, "text", "doc_id",
      numHashes = 64, bands = 16, jaccardThreshold = 0.8, shingleSize = 3)
      .collect()
    val lsh = verified.map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact duplicates are guaranteed LSH collisions
    (0L until 10L).foreach(i => assert(lsh.contains((i, 100L + i)), s"missing exact dup $i"))
    // verified-jaccard filter: no pair below the threshold, and every
    // reported pair is genuinely in the exact set (verify step is exact)
    verified.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.8))
    assert(lsh.subsetOf(exact))
    // banding (16 bands × 4 rows) catches >= 80% of true pairs at j>=0.8
    val caught = exact.intersect(lsh).size.toDouble / exact.size
    assert(caught >= 0.8, s"recall $caught")
  }

  test("simhash: exact dups at hamming 0; near-dups within small hamming") {
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Long]("hamming"))).toMap
    (0L until 10L).foreach { i =>
      assert(pairs.get((i, 100L + i)).contains(0L), s"exact dup $i not at hamming 0")
    }
    val nearFound = (0L until 10L).count(i => pairs.contains((i, 200L + i)))
    assert(nearFound >= 7, s"near-dup recall $nearFound/10")
  }

  test("ann: LSH candidates recall vs brute-force top-1 on clustered vectors") {
    // 20 clusters × 5 members: members of a cluster are small perturbations
    val vecs = (0 until 100).map { i =>
      val cluster = i / 5
      val v = Array.tabulate(64) { d =>
        val base = ((Sketches.mix(cluster * 131L + d) >>> 16) % 1000L) / 500.0f - 1.0f
        val noise = ((Sketches.mix(i * 7793L + d) >>> 16) % 100L) / 5000.0f
        base + noise
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding").cache()

    val brute = Ann.bruteForceTopK(vecs, vecs.filter($"vec_id" < 10), k = 1)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"))).toMap
    // top-1 neighbor of each query must be a same-cluster member
    brute.foreach { case (q, n) => assert(q / 5 == n / 5, s"q=$q n=$n") }

    val lsh = Ann.lshCandidatePairs(vecs, bits = 10, tables = 8, dim = 64,
      minCosine = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // most same-cluster pairs should surface as candidates
    val sameCluster = (for (c <- 0 until 20; a <- 0 until 5; b <- a + 1 until 5)
      yield ((c * 5 + a).toLong, (c * 5 + b).toLong)).toSet
    val recall = sameCluster.intersect(lsh).size.toDouble / sameCluster.size
    assert(recall >= 0.7, s"lsh recall $recall")
    // verified cosine means no pair below the floor
    Ann.lshCandidatePairs(vecs, bits = 10, tables = 8, dim = 64, minCosine = 0.9)
      .collect().foreach(r => assert(r.getAs[Double]("cosine") >= 0.9))
  }

  test("ann: IVF exhaustive-probe equals brute force; nprobe<nlist keeps cluster recall") {
    // same clustered fixture as the LSH test
    val vecs = (0 until 100).map { i =>
      val cluster = i / 5
      val v = Array.tabulate(64) { d =>
        val base = ((Sketches.mix(cluster * 131L + d) >>> 16) % 1000L) / 500.0f - 1.0f
        val noise = ((Sketches.mix(i * 7793L + d) >>> 16) % 100L) / 5000.0f
        base + noise
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding").cache()
    val queries = vecs.filter($"vec_id" < 10)

    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSet

    // nprobe == nlist: the IVF plumbing must reproduce brute force EXACTLY
    val brute = asSet(Ann.bruteForceTopK(vecs, queries, k = 3))
    val exhaustive = asSet(Ann.ivfTopK(vecs, queries, k = 3, nlist = 8, nprobe = 8, iters = 3))
    assert(exhaustive == brute)

    // approximate regime: the query's own cluster lives in the probed list,
    // so top-1 must still be a same-cluster member for most queries
    val approx = Ann.ivfTopK(vecs, queries, k = 1, nlist = 8, nprobe = 2, iters = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id")))
    val sameCluster = approx.count { case (q, n) => q / 5 == n / 5 }
    assert(sameCluster >= 8, s"ivf same-cluster top-1: $sameCluster/10")
  }

  test("ivf clustered table: exhaustive == brute force; probe filter prunes partitions") {
    val vecs = (0 until 100).map { i =>
      val cluster = i / 5
      val v = Array.tabulate(64) { d =>
        val base = ((Sketches.mix(cluster * 131L + d) >>> 16) % 1000L) / 500.0f - 1.0f
        val noise = ((Sketches.mix(i * 7793L + d) >>> 16) % 100L) / 5000.0f
        base + noise
      }
      (i.toLong, v)
    }.toDF("vec_id", "embedding").cache()
    val queries = vecs.filter($"vec_id" < 6)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-clustered").toString
    val centroids = Ann.writeClustered(vecs, path, nlist = 8, iters = 3)

    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"))).toSet
    // exhaustive probe over the clustered layout reproduces brute force
    val brute = asSet(Ann.bruteForceTopK(vecs, queries, k = 3))
    val clustered = asSet(Ann.ivfTopKClustered(spark, path, centroids, queries,
      k = 3, nprobe = 8))
    assert(clustered == brute)

    // nprobe=1: the scan must carry a cid PARTITION filter (pruned layout —
    // only the probed lists are read, the point of the clustered table)
    val pruned = Ann.ivfTopKClustered(spark, path, centroids,
      vecs.filter($"vec_id" === 0L), k = 3, nprobe = 1)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [") &&
      planStr.contains("cid"), s"no cid partition filter in:\n${planStr.take(800)}")
    assert(pruned.collect().nonEmpty)

    // incremental append: new vectors assigned to the EXISTING centroids
    // become searchable without retraining or rewriting the corpus —
    // exhaustive probe over the appended layout == brute force on the union
    val newVecs = vecs.filter($"vec_id" < 10)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    Ann.appendClustered(newVecs, path, centroids)
    val after = asSet(Ann.ivfTopKClustered(spark, path, centroids, queries,
      k = 3, nprobe = 8))
    val bruteAll = asSet(Ann.bruteForceTopK(vecs.unionByName(newVecs), queries, k = 3))
    assert(after == bruteAll)
    // the appended twin of each query (same vector, id+1000) must now rank
    // at the top for it
    assert((0L until 6L).forall(q => after.contains((q, q + 1000L, 1))))
  }

  test("tokenize: deterministic vocab ranks, order-preserving encode, OOV → 0") {
    import graft.ops.Tokenize
    val docs = Seq(
      (1L, "a b a c a b"),     // a:3 b:2 c:1
      (2L, "b rare a"),
      (3L, "")).toDF("doc_id", "text")
    val vocab = Tokenize.buildVocab(docs, "text", vocabSize = 3)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // count desc, token asc: a(4) → 1, b(3) → 2, c(1) vs rare(1) tie → c first
    assert(vocab == Map("a" -> 1, "b" -> 2, "c" -> 3))

    val enc = Tokenize.encodeWithStats(docs, "text", "doc_id",
      Tokenize.buildVocab(docs, "text", 3))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[scala.collection.Seq[Int]]("token_ids").toSeq,
          r.getAs[Int]("n_tokens"), r.getAs[Int]("n_unk"))).toMap
    assert(enc(1L)._1 == Seq(1, 2, 1, 3, 1, 2)) // order preserved
    assert(enc(2L)._1 == Seq(2, 0, 1)) // "rare" is OOV → 0
    assert(enc(2L)._2 == 3 && enc(2L)._3 == 1)
    assert(!enc.contains(3L)) // token-free doc encodes to no row

    // ALL whitespace tokenizes (\s+, matching Curation's tokenCountWs
    // budget definition): a real web corpus is full of newlines/tabs, and
    // a single-space split would glue "a\nb" into one garbage vocab token
    // while curation counted it as two
    val wsDocs = Seq((1L, "x\ny\tz  x\r\nw")).toDF("doc_id", "text")
    val wsVocab = Tokenize.buildVocab(wsDocs, "text", vocabSize = 10)
      .collect().map(r => r.getString(0)).toSet
    assert(wsVocab == Set("x", "y", "z", "w"), wsVocab)
    val wsEnc = Tokenize.encode(wsDocs, "text", "doc_id",
        Tokenize.buildVocab(wsDocs, "text", 10))
      .collect().head.getAs[scala.collection.Seq[Int]]("token_ids")
    assert(wsEnc.size == 5, wsEnc) // x y z x w
    val wsSpan = graft.ops.Dedup.spanDedup(
      Seq((1L, "p q r\ns t"), (2L, "p q r\ns t")).toDF("doc_id", "text"),
      "text", "doc_id", k = 2).collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // the 5-word span repeats across docs 1/2: doc 1 keeps all five words
    // (split on \n too), doc 2 loses every word and drops out entirely
    assert(wsSpan(1L).split("\\s+").length == 5 && !wsSpan.contains(2L),
      wsSpan)
  }

  test("vocab build: partition pre-prune bounds the global window; minCount prefilters") {
    import graft.ops.Tokenize
    // 200 distinct tokens with distinct counts — the exact top-10 must
    // survive the per-partition prune no matter how tokens hash
    val docs = (1 to 200).flatMap(i => Seq.fill(i)(s"t$i")).grouped(50)
      .zipWithIndex.map { case (g, i) => (i.toLong, g.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val expected = (200 to 191 by -1).zipWithIndex
      .map { case (c, r) => (s"t$c", r + 1, c.toLong) }.toSet
    val got = Tokenize.buildVocab(docs, "text", vocabSize = 10, prePartitions = 4)
    assert(got.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getLong(2))).toSet == expected)

    // plan shape: the partitionless (global) rank window must NOT consume
    // the raw token aggregation — a per-partition window + rank filter sit
    // between them, so the single task sees ≤ prePartitions·vocabSize rows
    val planStr = got.queryExecution.executedPlan.toString
    val windows = planStr.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.exists(_.contains("__vpart")),
      s"no partitioned pre-prune window in plan:\n${planStr.take(1200)}")
    val globalIdx = planStr.indexOf("windowspecdefinition(n_occurrences")
    val partIdx = planStr.indexOf("__vpart")
    assert(globalIdx >= 0 && partIdx > globalIdx,
      "pre-prune window must feed the global window (appear below it in the plan)")

    // minCount drops the tail before any ranking (ids still dense from 1)
    val floored = Tokenize.buildVocab(docs, "text", vocabSize = 10,
        minCount = 195L, prePartitions = 4)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(floored == Set(("t200", 1), ("t199", 2), ("t198", 3),
      ("t197", 4), ("t196", 5), ("t195", 6)))
  }

  test("paragraph dedup: corpus-wide keep-first lines, skew-safe plan, bypass") {
    import graft.ops.Dedup
    val docsP = Seq(
      (0L, "x\nx"),          // within-doc dup: second x loses
      (1L, "a\nb\nc"),
      (2L, "b\nd\nb"),       // both b's lose to doc 1
      (3L, "a\nb\nc"),       // exact copy → every line loses → doc vanishes
      (4L, "e\n\nf\n")       // first "" kept, trailing "" loses
    ).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(docsP, "text", "doc_id")
    val byId = got.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(byId == Map(
      0L -> (("x", 1)),
      1L -> (("a\nb\nc", 3)),
      2L -> (("d", 1)),
      4L -> (("e\n\nf", 3))))

    // skew-tolerance: the keep-first rank filter must push a PARTIAL
    // WindowGroupLimit below the line exchange (a corpus-hot boilerplate
    // line ships ≤ 1 row per map partition); exactly two exchanges total
    // (line window + reassembly agg)
    val plan = got.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial"), plan)
    assert("Exchange".r.findAllIn(plan).size == 2, plan)

    // minLineChars: short lines bypass dedup (kept verbatim everywhere)
    val docsS = Seq(
      (1L, "aa\n-\nbb"),
      (2L, "aa\n-\ncc")      // "aa" loses, "-" (short) bypasses
    ).toDF("doc_id", "text")
    val short = Dedup.paragraphDedup(docsS, "text", "doc_id", minLineChars = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(short == Map(1L -> "aa\n-\nbb", 2L -> "-\ncc"))
  }

  test("sequence packing: concat-and-chunk across docs, deterministic, partition-proof") {
    import graft.ops.Tokenize
    val fix = Seq(
      (1L, Seq(1, 2, 3, 4, 5)),
      (2L, Seq(6, 7)),
      (3L, Seq.empty[Int]),  // empty doc: dropped, contributes no eos
      (4L, Seq(8, 9, 10, 11, 12, 13, 14))
    ).toDF("doc_id", "token_ids")
    // stream with eos 0: 1 2 3 4 5 0 | 6 7 0 | 8..14 0  (17 ids)
    val expected = Seq(
      0 -> Seq(1, 2, 3, 4), 1 -> Seq(5, 0, 6, 7), 2 -> Seq(0, 8, 9, 10),
      3 -> Seq(11, 12, 13, 14), 4 -> Seq(0))
    val got = Tokenize.packSequences(fix, "doc_id", seqLen = 4,
        eosId = Some(0), minLen = 1, prefixBuckets = 3)
      .collect().map(r => r.getLong(0).toInt -> r.getSeq[Int](1)).sortBy(_._1).toSeq
    assert(got == expected)
    // minLen drops the partial tail only
    val noTail = Tokenize.packSequences(fix, "doc_id", seqLen = 4,
        eosId = Some(0), minLen = 2, prefixBuckets = 3)
      .collect().map(r => r.getLong(0).toInt -> r.getSeq[Int](1)).sortBy(_._1).toSeq
    assert(noTail == expected.init)

    // randomized parity vs a single-node reference; scrambled input
    // partitioning must not change a single id (offsets are exact)
    val rnd = (0L until 200L).map { i =>
      val n = (Sketches.mix(i * 31L) >>> 20).toInt.abs % 9 // 0..8 ids
      (i, Seq.tabulate(n)(j => (i * 100 + j).toInt))
    }
    val refStream = rnd.filter(_._2.nonEmpty).sortBy(_._1).flatMap(_._2)
    val refPacks = refStream.grouped(16).zipWithIndex
      .map { case (g, k) => k -> g }.filter(_._2.size >= 5).toSeq
    val gotR = Tokenize.packSequences(
        rnd.toDF("doc_id", "token_ids").repartition(13),
        "doc_id", seqLen = 16, eosId = None, minLen = 5, prefixBuckets = 8)
      .collect().map(r => r.getLong(0).toInt -> r.getSeq[Int](1)).sortBy(_._1).toSeq
    assert(gotR == refPacks)

    // plan guard: the prefix sum must be the bucket-partitioned window —
    // a partitionless (global, one-task) window is the scale regression
    val plan = Tokenize.packSequences(fix, "doc_id", seqLen = 4)
      .queryExecution.executedPlan.toString
    val specs = "windowspecdefinition\\(([^,]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty && specs.forall(_.startsWith("__b")),
      s"expected every window partitioned by __b, got $specs")
  }

  test("span dedup: repeated k-grams excised at non-first occurrences, window-free") {
    import graft.ops.Dedup
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x a b c d y"),   // "a b c","b c d" lose → positions 1-4 covered
      (3L, "a b c d e"),     // exact copy → fully covered → vanishes
      (4L, "p q"),           // < k words: no grams, intact
      (5L, "r r r r"),       // within-doc dup gram at pos 1 → covers 1-3
      (6L, "")               // empty → vanishes
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, "text", "doc_id", k = 3)
    val byId = got.collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(byId == Map(
      1L -> (("a b c d e", 5)),
      2L -> (("x y", 2)),
      4L -> (("p q", 2)),
      5L -> (("r", 1))))

    // plan: window-free by construction (an rn>1 window has no group-limit
    // pushdown for losers — the winner is a partial-aggregating min(struct)
    // instead), and the coverage removal is a left-anti join. Audited on
    // the eager=false LIVE plan so the checkpoint hides nothing.
    val plan = Dedup.spanDedup(docs, "text", "doc_id", k = 3, eager = false)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("LeftAnti"), plan)

    // randomized parity vs a single-node reference (small alphabet so
    // cross-doc k-gram collisions actually occur), scrambled partitioning
    val k = 4
    val rnd: Seq[(Long, Vector[String])] = (0L until 120L).map { i =>
      val n = (Sketches.mix(i * 131L) >>> 20).toInt.abs % 14 // 0..13 words
      (i, Vector.tabulate(n)(j =>
        "w" + ((Sketches.mix(i * 7919L + j * 31L) >>> 17).toInt.abs % 5)))
    }
    val gramOcc = for {
      (id, ws) <- rnd; p <- 0 to ws.length - k
    } yield (ws.slice(p, p + k).mkString(" "), id, p)
    val winners = gramOcc.groupBy(_._1).collect {
      case (g, occ) if occ.size >= 2 => g -> occ.map(o => (o._2, o._3)).min
    }
    val covered: Map[Long, Set[Int]] = gramOcc
      .filter { case (g, id, p) => winners.get(g).exists(_ != ((id, p))) }
      .groupBy(_._2)
      .map { case (id, ls) => id -> ls.flatMap(l => l._3 until l._3 + k).toSet }
    val expected = rnd.flatMap { case (id, ws) =>
      val kept = ws.zipWithIndex
        .filterNot { case (_, j) => covered.getOrElse(id, Set.empty).contains(j) }
      if (kept.isEmpty) None
      else Some((id, kept.map(_._1).mkString(" "), kept.size))
    }.sortBy(_._1)
    val gotR = Dedup.spanDedup(
        rnd.map { case (id, ws) => (id, ws.mkString(" ")) }
          .toDF("doc_id", "text").repartition(11),
        "text", "doc_id", k = k)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1).toSeq
    assert(gotR == expected)
  }

  test("BPE: distributed training matches the classic algorithm; encode covers unseen words") {
    import graft.ops.Tokenize

    // single-node reference: the textbook Sennrich et al. loop
    def refBpe(corpus: Seq[String], numMerges: Int, minPair: Long)
        : (Vector[(String, String, Long)], Map[String, Vector[String]]) = {
      val wc = corpus.flatMap(_.split(" ").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      var segs: Map[String, Vector[String]] = wc.keys
        .map(w => w -> (w.split("").filter(_.nonEmpty).toVector :+ "</w>")).toMap
      var merges = Vector.empty[(String, String, Long)]
      var done = false
      while (merges.size < numMerges && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((w, s) <- segs; i <- 0 until s.length - 1)
          counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + wc(w)
        val live = counts.filter(_._2 >= minPair)
        if (live.isEmpty) done = true
        else {
          val ((l, r), c) = live.minBy { case ((a, b), n) => (-n, a, b) }
          merges :+= ((l, r, c))
          segs = segs.map { case (w, s) =>
            w -> Tokenize.foldMergeLocal(s, l, r) }
        }
      }
      (merges, segs)
    }

    val corpus = Seq(
      "low low low low low", "lower lower", "newest newest newest",
      "newest newest newest", "widest widest widest", "low lowest")
    val (refMerges, refSegs) = refBpe(corpus, numMerges = 12, minPair = 2L)
    assert(refMerges.nonEmpty && refMerges.size <= 12)

    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(7)
    val model = Tokenize.bpeTrain(docs, "text", numMerges = 12,
      minPairCount = 2L, checkpointEvery = 3)
    assert(model.merges == refMerges)
    val gotSegs = model.segments.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    assert(gotSegs == refSegs)

    // encode over training docs: ids expand each word's memoized segments
    // in order; reference built from refSegs + the model's vocab mapping
    val vocabMap = model.vocab.collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    def refEncode(text: String): Seq[Int] = text.split(" ").filter(_.nonEmpty)
      .flatMap(w => refSegs(w).map(vocabMap(_))).toSeq
    val gotEnc = Tokenize.bpeEncode(docs, "text", "doc_id", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    corpus.zipWithIndex.foreach { case (t, i) =>
      assert(gotEnc(i.toLong) == refEncode(t), s"doc $i") }

    // unseen words (delta ingest): the typed replay kernel must agree with
    // sequentially replaying the merge list over fresh segmentations
    val unseen = Seq((100L, "slowest wide low")).toDF("doc_id", "text")
    def refReplay(w: String): Vector[String] = {
      var s = w.split("").filter(_.nonEmpty).toVector :+ "</w>"
      refMerges.foreach { case (l, r, _) => s = Tokenize.foldMergeLocal(s, l, r) }
      s
    }
    val gotUnseen = Tokenize.bpeEncode(unseen, "text", "doc_id", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val expectUnseen = Seq("slowest", "wide", "low")
      .flatMap(w => refReplay(w).map(s => vocabMap.getOrElse(s, 0)))
    assert(gotUnseen(100L) == expectUnseen)

    // randomized parity: small alphabet so merges cascade several levels
    val rndCorpus = (0 until 60).map { i =>
      (0 until 1 + (Sketches.mix(i * 37L) >>> 22).toInt.abs % 8).map { j =>
        val len = 1 + (Sketches.mix(i * 101L + j) >>> 21).toInt.abs % 6
        (0 until len).map(p =>
          ("abc" ((Sketches.mix(i * 13L + j * 7L + p) >>> 18).toInt.abs % 3))).mkString
      }.mkString(" ")
    }
    val (refM2, refS2) = refBpe(rndCorpus, numMerges = 15, minPair = 2L)
    val model2 = Tokenize.bpeTrain(
      rndCorpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text").repartition(9),
      "text", numMerges = 15, minPairCount = 2L, checkpointEvery = 4)
    assert(model2.merges == refM2)
    assert(model2.segments.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap == refS2)
  }

  test("BPE batched selection: safety rules certify only recount-free prefixes") {
    import graft.ops.Tokenize.selectMergeBatch
    val syms = Set("a", "b", "c", "d", "e", "f", "x")
    // (x,a) interacts with selected (a,b) (its right is a selected left:
    // merging a·b consumes a's that x·a occurrences need) → walk stops
    // there and the batch keeps only counts strictly above the stop count
    assert(selectMergeBatch(Seq(("a", "b", 100L), ("c", "d", 90L),
      ("x", "a", 80L), ("e", "f", 70L)), syms) ==
      Seq(("a", "b", 100L), ("c", "d", 90L)))
    // left-side interaction: (b,x) after (a,b) (selected right as left)
    assert(selectMergeBatch(Seq(("a", "b", 100L), ("b", "x", 90L),
      ("e", "f", 80L)), syms) == Seq(("a", "b", 100L)))
    // aliasing: (c,d)'s output "cd" already a live symbol → stop at it
    assert(selectMergeBatch(Seq(("a", "b", 100L), ("c", "d", 90L)),
      syms + "cd") == Seq(("a", "b", 100L)))
    // tie with the stop pair's count is trimmed too (a spawned pair could
    // tie and win the lexicographic tiebreak) → empty, caller falls back
    // to the single argmax
    assert(selectMergeBatch(Seq(("a", "b", 90L), ("c", "d", 90L),
      ("x", "a", 90L)), syms).isEmpty)
    // ties among SAFE pairs batch fine when above the bound
    assert(selectMergeBatch(Seq(("a", "b", 90L), ("c", "d", 90L),
      ("x", "a", 10L)), syms) == Seq(("a", "b", 90L), ("c", "d", 90L)))
    // non-exhaustive prefix with no violation: the last count still bounds
    // unseen pairs → its tier is trimmed
    assert(selectMergeBatch(Seq(("a", "b", 90L), ("c", "d", 80L)), syms) ==
      Seq(("a", "b", 90L)))
    // exhaustive (whole live table seen, no violation): nothing to bound
    assert(selectMergeBatch(Seq(("a", "b", 90L), ("c", "d", 80L)), syms,
      exhaustive = true) == Seq(("a", "b", 90L), ("c", "d", 80L)))

    // windowLimited flag (drives the trainer's adaptive fetch window):
    // true ONLY when the walk consumed the whole non-exhaustive prefix
    // without a violation — a wider window could have proven more
    import graft.ops.Tokenize.selectMergeBatchEx
    assert(selectMergeBatchEx(Seq(("a", "b", 90L), ("c", "d", 80L)), syms,
      exhaustive = false)._2, "unviolated non-exhaustive walk is window-limited")
    assert(!selectMergeBatchEx(Seq(("a", "b", 90L), ("c", "d", 80L)), syms,
      exhaustive = true)._2, "exhaustive walk is never window-limited")
    assert(!selectMergeBatchEx(Seq(("a", "b", 100L), ("b", "x", 90L),
      ("e", "f", 80L)), syms, exhaustive = false)._2,
      "violation stop is corpus-structural, not window-limited")
  }

  test("BPE batched trainer == sequential == classic, with a real batch factor") {
    import graft.ops.Tokenize
    // single-node classic loop (same as the parity test above)
    def refBpe(corpus: Seq[String], numMerges: Int, minPair: Long)
        : Vector[(String, String, Long)] = {
      val wc = corpus.flatMap(_.split(" ").filter(_.nonEmpty))
        .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      var segs: Map[String, Vector[String]] = wc.keys
        .map(w => w -> (w.split("").filter(_.nonEmpty).toVector :+ "</w>")).toMap
      var merges = Vector.empty[(String, String, Long)]
      var done = false
      while (merges.size < numMerges && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((w, s) <- segs; i <- 0 until s.length - 1)
          counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + wc(w)
        val live = counts.filter(_._2 >= minPair)
        if (live.isEmpty) done = true
        else {
          val ((l, r), c) = live.minBy { case ((a, b), n) => (-n, a, b) }
          merges :+= ((l, r, c))
          segs = segs.map { case (w, s) => w -> Tokenize.foldMergeLocal(s, l, r) }
        }
      }
      merges
    }
    // larger alphabet + skewed word frequencies: the regime where the top
    // of the pair table is dominated by non-interacting pairs and batching
    // actually engages (the 3-letter corpus above is the adversarial case
    // where batches stay near 1)
    val letters = "abcdefghijklmnopqrst"
    val words = (0 until 240).map { i =>
      val len = 2 + (Sketches.mix(i * 31L) >>> 20).toInt.abs % 8
      (0 until len).map(p =>
        letters((Sketches.mix(i * 17L + p * 7L) >>> 18).toInt.abs % letters.length))
        .mkString
    }
    val corpus = (0 until 1200).map { i =>
      val n = 3 + (Sketches.mix(i * 11L) >>> 24).toInt.abs % 10
      (0 until n).map { j =>
        // Zipf-ish: low word indices repeat often
        val r = (Sketches.mix(i * 131L + j * 29L) >>> 16).toInt.abs
        words(r % (1 + r % words.length))
      }.mkString(" ")
    }
    val refM = refBpe(corpus, numMerges = 80, minPair = 2L)
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(7)
    val batched = Tokenize.bpeTrain(docs, "text", numMerges = 80,
      minPairCount = 2L, checkpointEvery = 4, maxBatch = 64)
    val sequential = Tokenize.bpeTrain(docs, "text", numMerges = 80,
      minPairCount = 2L, checkpointEvery = 16, maxBatch = 1)
    assert(batched.merges == refM, "batched must equal the classic sequence")
    assert(sequential.merges == refM)
    def segsOf(m: Tokenize.BpeModel) = m.segments.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
    assert(segsOf(batched) == segsOf(sequential))
    // the scale evidence: the batched trainer must need MATERIALLY fewer
    // Spark iterations than merges (this corpus yields a >2x factor), and
    // the sequential trainer is one per merge
    assert(batched.merges.size == 80, s"got ${batched.merges.size} merges")
    assert(batched.trainIterations * 2 <= batched.merges.size,
      s"batch factor < 2: ${batched.trainIterations} iterations for ${batched.merges.size} merges")
    assert(sequential.trainIterations >= sequential.merges.size)

    // adaptive fetch window, violation-bound corpus: this 20-letter corpus
    // stops walks on interactions early, so growth must NOT engage into
    // waste — parity holds and iterations never get worse than fixed
    val fixed8 = Tokenize.bpeTrain(docs, "text", numMerges = 80,
      minPairCount = 2L, checkpointEvery = 4, maxBatch = 8, maxBatchCap = 8)
    val adaptive8 = Tokenize.bpeTrain(docs, "text", numMerges = 80,
      minPairCount = 2L, checkpointEvery = 4, maxBatch = 8, maxBatchCap = 64)
    assert(fixed8.merges == refM)
    assert(adaptive8.merges == refM,
      "adaptive window must not change the merge sequence")
    assert(adaptive8.trainIterations <= fixed8.trainIterations,
      s"adaptive ${adaptive8.trainIterations} > fixed ${fixed8.trainIterations}")

    // adaptive fetch window, window-bound corpus: single-char words over a
    // large alphabet make every live pair (c_i, </w>) — pairwise
    // non-interacting with all-distinct counts — so walks consume ANY
    // window unviolated and the fetch size is the only batch limit (the
    // regime large natural corpora reach after a few hundred merges).
    // Adaptation must widen the window and cut iterations materially,
    // with the merge sequence still byte-equal to the classic loop's.
    val wideChars = (0 until 300).map(i => (0x100 + i).toChar.toString)
    val wideTokens = wideChars.zipWithIndex.flatMap { case (c, i) =>
      Seq.fill(2 + (wideChars.size - i))(c) }
    val wideCorpus = wideTokens.zipWithIndex
      .groupBy { case (_, k) => Sketches.mix(k.toLong * 53L) % 97 }
      .values.map(_.map(_._1).mkString(" ")).toSeq.sorted
    val wideRef = refBpe(wideCorpus, numMerges = 200, minPair = 2L)
    assert(wideRef.size == 200)
    val wideDocs = wideCorpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(7)
    val wideFixed = Tokenize.bpeTrain(wideDocs, "text", numMerges = 200,
      minPairCount = 2L, checkpointEvery = 6, maxBatch = 8, maxBatchCap = 8)
    val wideAdaptive = Tokenize.bpeTrain(wideDocs, "text", numMerges = 200,
      minPairCount = 2L, checkpointEvery = 6, maxBatch = 8, maxBatchCap = 256)
    assert(wideFixed.merges == wideRef)
    assert(wideAdaptive.merges == wideRef,
      "adaptive window must not change the merge sequence (wide corpus)")
    assert(wideAdaptive.trainIterations * 2 <= wideFixed.trainIterations,
      s"window growth didn't engage: adaptive ${wideAdaptive.trainIterations}" +
        s" vs fixed ${wideFixed.trainIterations}")

    // driver-local trainer (the production-vocab scale path): byte-equal
    // merges, segments, and vocab on both corpus shapes, in a FIXED number
    // of Spark jobs regardless of numMerges
    val local = Tokenize.bpeTrainLocal(docs, "text", numMerges = 80,
      minPairCount = 2L)
    assert(local.merges == refM, "local trainer must equal the classic sequence")
    assert(segsOf(local) == segsOf(batched))
    def vocabOf(m: Tokenize.BpeModel) = m.vocab.collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(vocabOf(local) == vocabOf(batched))
    val localWide = Tokenize.bpeTrainLocal(wideDocs, "text", numMerges = 200,
      minPairCount = 2L)
    assert(localWide.merges == wideRef)
    // maxWords guards the driver heap: overflow must fail loudly (the
    // caller then falls back to the distributed bpeTrain)
    val e = intercept[IllegalArgumentException] {
      Tokenize.bpeTrainLocal(docs, "text", numMerges = 5, maxWords = 3L)
    }
    assert(e.getMessage.contains("maxWords"))
  }

  test("embedding near-dup: planted identical vectors are exactly recovered") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(64)(d => ((Sketches.mix(i * 977L + d) >>> 16) % 1000L) / 500.0f - 1.0f))
    }.toDF("vec_id", "embedding")
    val doubled = vecs.union(vecs.select(($"vec_id" + 1000L).as("vec_id"), $"embedding"))
    val pairs = graft.ops.Dedup.embeddingNearDupPairs(doubled, minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0L until 40L).map(i => (i, i + 1000L)).toSet)
  }

  test("curation pipeline: filters + exact dedup + near-dup collapse compose") {
    import graft.ops.Curation
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (1L, base), // survives (representative)
      (2L, base), // exact dup of 1 → keep-first kills
      (3L, base + " " + base), // near dup of 1 → cluster collapse kills
      (4L, "سند فارسی بدون حروف لاتین برای فیلتر زبان " * 3), // non-latin → lang filter
      (5L, "too short"), // 2 tokens < minTokens
      (6L, "a completely different document about spark catalyst plans and shuffles here")
    ).toDF("doc_id", "text")
    val kept = Curation.curate(docs, "doc_id", "text",
      Curation.Config(langs = Set("latin"), minTokens = 5, maxTokens = 100,
        jaccardThreshold = 0.6))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 6L))
  }

  test("curation quality gates: each gate kills exactly its pathology; defaults no-op") {
    import graft.ops.Curation
    val clean = "the quick brown fox jumps over the lazy dog again and plans shuffles today"
    val docs = Seq(
      (1L, clean),                                      // passes every gate
      (2L, "the a the b the c the d the e the f the g"), // top_word 7/14 = 0.5; all 3-grams distinct
      (3L, "alpha beta\ngamma delta\nalpha beta\ngamma delta\nepsilon zeta eta theta"), // dup_line 1-3/5 = 0.4; dup_3gram 0.2
      (4L, clean + " " + clean),                        // dup_3gram 1-13/24 ≈ 0.458; single line; top_word 4/28
      (5L, "zxqv1234 wkjh5678 qpzm9012 vbnm3456 asdf7890 qwer4321") // digit noise + no stopwords → quality ≈ 0.03
    ).toDF("doc_id", "text")
    val base = Curation.Config(langs = Set("latin"), minTokens = 5,
      maxTokens = 100, nearDup = false)
    def ids(cfg: Curation.Config): Set[Long] =
      Curation.curate(docs, "doc_id", "text", cfg).collect().map(_.getLong(0)).toSet
    // default thresholds are no-ops: every doc survives the gate stage
    assert(ids(base) == Set(1L, 2L, 3L, 4L, 5L))
    // each gate alone removes exactly its pathological doc
    assert(ids(base.copy(maxTopWordFrac = 0.45)) == Set(1L, 3L, 4L, 5L))
    assert(ids(base.copy(maxDupLineFrac = 0.35)) == Set(1L, 2L, 4L, 5L))
    assert(ids(base.copy(maxDup3gramFrac = 0.45)) == Set(1L, 2L, 3L, 5L))
    assert(ids(base.copy(minQualityScore = 0.2)) == Set(1L, 2L, 3L, 4L))
    // composed: only the clean doc survives
    assert(ids(base.copy(maxDupLineFrac = 0.35, maxTopWordFrac = 0.45,
      maxDup3gramFrac = 0.45, minQualityScore = 0.2)) == Set(1L))
  }

  test("char-LM filterByScore: threshold gate; keepShort controls unscoreable docs") {
    val model = CharLm.train(Seq((0L, "abab")).toDF("doc_id", "text"), "text")
    val docs = Seq(
      (1L, "abab"),  // every gram seen: avg_logp = 0
      (2L, "abzz"),  // unseen grams: avg_logp = floor (~-20.7)
      (3L, "ab")     // too short to score: null
    ).toDF("doc_id", "text")
    def kept(minLogp: Double, keepShort: Boolean): Set[Long] =
      CharLm.filterByScore(docs, model, "doc_id", "text", minLogp, keepShort)
        .collect().map(_.getLong(0)).toSet
    assert(kept(-1.0, keepShort = true) == Set(1L, 3L))
    assert(kept(-1.0, keepShort = false) == Set(1L))
    assert(kept(-100.0, keepShort = true) == Set(1L, 2L, 3L)) // floor above -100
  }

  test("incremental curation: delta vs persisted base == batch curate restricted to delta") {
    import graft.ops.Curation
    val cfg = Curation.Config(langs = Set("latin"), minTokens = 5, maxTokens = 100,
      jaccardThreshold = 0.6)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "a completely different document about spark catalyst plans and shuffles here"
    val corpus = Seq(
      (1L, base),            // survivor (representative)
      (2L, base),            // exact loser
      (3L, base + " " + base), // near-dup loser — stays in the EXACT stage
      (4L, "سند فارسی بدون حروف لاتین برای فیلتر زبان " * 3),
      (5L, "too short"),
      (6L, other)            // survivor
    ).toDF("doc_id", "text")
    val fresh = "entirely new delta prose on cuckoo filters bloom sketches and seen sets"
    val delta = Seq(
      (101L, base),              // exact copy of a corpus survivor → dies
      (102L, base + " extra"),   // near-dup of survivor 1 → dies
      (103L, base + " " + base + " word"), // near-dup of corpus LOSER 3 → chains → dies
      (104L, fresh),             // new; twin of 105 → survives (smaller id)
      (105L, fresh),             // exact twin of 104 → dies
      (106L, "another wholly original delta document mentioning broadcast joins and aqe"),
      (107L, "متن فارسی دیگری برای فیلتر زبان اینجا هست " * 2) // lang filter
    ).toDF("doc_id", "text")

    val corpusExact = Curation.dedupBase(corpus, "doc_id", "text", cfg)
      .localCheckpoint(true)
    val index = graft.ops.Dedup.lshBandIndex(corpusExact, "text", "doc_id",
      cfg.minhashHashes, cfg.minhashBands, cfg.shingleSize).localCheckpoint(true)
    val deltaOut = Curation.curateDelta(corpusExact, index, delta, "doc_id", "text", cfg)
    val deltaRows = deltaOut.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(deltaRows.map(_._1) == Set(104L, 106L))

    // batch equivalence: curate(corpus ∪ delta) == old survivors ∪ delta out
    val batch = Curation.curate(corpus.unionByName(delta), "doc_id", "text", cfg)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    val old = Curation.curate(corpus, "doc_id", "text", cfg)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(old.map(_._1) == Set(1L, 6L))
    assert(batch == old ++ deltaRows)
  }

  test("bucketed dedup base: curateDelta parity; corpus-side candidate join exchange-free") {
    import graft.ops.Curation
    val cfg = Curation.Config(langs = Set("latin"), minTokens = 5, maxTokens = 100,
      jaccardThreshold = 0.6)
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val other = "a completely different document about spark catalyst plans and shuffles here"
    val corpus = Seq((1L, base), (2L, base), (3L, base + " " + base), (6L, other))
      .toDF("doc_id", "text")
    val fresh = "entirely new delta prose on cuckoo filters bloom sketches and seen sets"
    val delta = Seq((101L, base), (102L, base + " extra"), (104L, fresh), (105L, fresh))
      .toDF("doc_id", "text")
    val corpusExact = Curation.dedupBase(corpus, "doc_id", "text", cfg)
      .localCheckpoint(true)
    val index = graft.ops.Dedup.lshBandIndex(corpusExact, "text", "doc_id",
      cfg.minhashHashes, cfg.minhashBands, cfg.shingleSize).localCheckpoint(true)
    val path = java.nio.file.Files.createTempDirectory("graft-dedup-base").toString
    Curation.writeDedupBaseBucketed(spark, corpusExact, "dedup_base_b", path, buckets = 8)
    try {
      val bound = Curation.bindDedupBase(spark, "dedup_base_b", path, buckets = 8)
      assert(bound.columns.contains("content_hash"),
        "bucketed base must persist the hash column (32-byte exact-dup scan)")
      // parity: the at-rest layout must not change the fold's results
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.getLong(0)).toSet
      val viaBucketed = ids(Curation.curateDelta(bound, index, delta,
        "doc_id", "text", cfg))
      val viaPlain = ids(Curation.curateDelta(corpusExact, index, delta,
        "doc_id", "text", cfg))
      assert(viaBucketed == viaPlain && viaBucketed == Set(104L))

      // the candidate-text semi-join exactly as minhashLshPairsIncremental
      // builds it (cast-alias then left_semi on id): under forced SMJ the
      // bucketed corpus side must NOT exchange — only the candidate-id side
      val candIds = Seq(1L, 3L, 6L).toDF("id")
      def semiJoin(c: org.apache.spark.sql.DataFrame) = c
        .select(col("doc_id").cast("long").as("id"), col("text").as("t"))
        .join(candIds, Seq("id"), "left_semi")
      def planOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      def exchanges(p: String) = """\(\d+\) Exchange""".r.findAllIn(p).size
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val bucketedPlan = planOf(semiJoin(bound))
        val plainPlan = planOf(semiJoin(spark.read.parquet(path)))
        assert(bucketedPlan.contains("Bucketed: true"),
          s"corpus scan not bucketed:\n$bucketedPlan")
        assert(exchanges(plainPlan) == 2,
          s"plain semi-join should shuffle both sides:\n$plainPlan")
        assert(exchanges(bucketedPlan) == 1,
          s"bucketed corpus side must not exchange:\n$bucketedPlan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql("DROP TABLE IF EXISTS dedup_base_b")
  }

  test("bm25 retrieval: field boosts rank question > answer > content; min_score floors") {
    import graft.ops.Search
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0),
      Search.Field("content", 2.0))
    val docs = Seq(
      (1L, "spark shuffle", "x y", "z z z"), // terms in question (boost 5)
      (2L, "x y", "spark shuffle", "z z z"), // terms in answer (boost 3)
      (3L, "x y", "a b", "spark shuffle z"), // terms in content (boost 2)
      (4L, "x y", "a b", "z w v")            // no match
    ).toDF("doc_id", "question", "answer", "content")
    val queries = Seq((1L, "spark shuffle")).toDF("query_id", "qtext")
    val out = Search.bm25TopK(docs, fields, queries, k = 10, minScore = 0.0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("rank"), r.getAs[Double]("score"))).toMap
    // same tf/df per clause, so the boost ordering decides
    assert(out.keySet == Set(1L, 2L, 3L), "non-matching doc must not appear")
    assert(out(1L)._1 == 1 && out(2L)._1 == 2 && out(3L)._1 == 3)
    assert(out(1L)._2 > out(2L)._2 && out(2L)._2 > out(3L)._2)

    // min_score floor: raise it above the content-only doc's score
    val floored = Search.bm25TopK(docs, fields, queries, k = 10,
      minScore = out(3L)._2 + 0.001)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(floored == Set(1L, 2L))

    // idf: a query term every doc contains scores below a rare one at equal boost
    val docs2 = Seq(
      (1L, "common rare"), (2L, "common x"), (3L, "common y"), (4L, "common z")
    ).toDF("doc_id", "question")
    val q2 = Seq((1L, "common"), (2L, "rare")).toDF("query_id", "qtext")
    val byQ = Search.bm25TopK(docs2, Seq(Search.Field("question", 1.0)), q2,
      k = 10, minScore = 0.0)
      .collect().groupBy(_.getAs[Long]("query_id"))
    val commonTop = byQ(1L).map(_.getAs[Double]("score")).max
    val rareTop = byQ(2L).map(_.getAs[Double]("score")).max
    assert(rareTop > commonTop, s"rare=$rareTop common=$commonTop")
  }

  test("bm25 batch stats: total/relevant/max_score agree with the scored top-k") {
    import graft.ops.Search
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0),
      Search.Field("content", 2.0))
    val docs = Seq(
      (1L, "spark shuffle", "x y", "z z z"),
      (2L, "x y", "spark shuffle", "z z z"),
      (3L, "x y", "a b", "spark shuffle z"),
      (4L, "x y", "a b", "z w v")
    ).toDF("doc_id", "question", "answer", "content")
    val queries = Seq((1L, "spark shuffle"), (2L, "nomatch")).toDF("query_id", "qtext")
    // cap below the hit count: total_count keeps the full floor-clearing
    // count while relevant_count reports what the stream would yield
    val stats = Search.bm25QueryStats(docs, fields, queries,
        maxResults = 2, minScore = 0.0)
      .collect().map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("total_count"), r.getAs[Long]("relevant_count"),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // EVERY query reports an envelope row; no-hit → (0, 0, null max_score)
    assert(stats.keySet == Set(1L, 2L))
    assert(stats(1L)._1 == 3L && stats(1L)._2 == 2L)
    assert(stats(2L) == ((0L, 0L, None)))
    val top = Search.bm25TopK(docs, fields, queries, k = 1, minScore = 0.0)
      .collect().head.getAs[Double]("score")
    assert(stats(1L)._3.contains(top))
  }

  test("bm25 phrase retrieval: consecutive-term gate, should-sum, min_score tiers") {
    import graft.ops.Search
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0),
      Search.Field("content", 2.0))
    // docs 2 and 5 carry both terms non-adjacently (one per field) so the
    // per-field df — hence idf — is equal across question/answer and the
    // boost alone decides the ranking between docs 1 and 3
    val docs = Seq(
      (1L, "hash join fast", "x y", "z"), // phrase adjacent in question
      (2L, "hash fast join", "x y", "z"), // both terms, NON-adjacent → gated out
      (3L, "x y", "hash join", "z"),      // adjacent in answer (lower boost)
      (4L, "x y", "a b", "w"),            // no terms
      (5L, "x", "join near hash", "z")    // non-adjacent in answer → gated out
    ).toDF("doc_id", "question", "answer", "content")
    val phrases = Seq((1L, "hash join")).toDF("query_id", "phrase")
    val out = Search.bm25PhraseTopK(docs, fields, phrases, k = 10,
        minScore = Some(0.0))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("rank"), r.getAs[Double]("score"))).toMap
    // the match_phrase gate: doc 2 has both terms but never consecutively
    assert(out.keySet == Set(1L, 3L), s"gate failed: ${out.keySet}")
    assert(out(1L)._1 == 1 && out(3L)._1 == 2, "question boost must outrank answer")
    // ...whereas bag-of-terms scoring WOULD admit doc 2 — the observable
    // difference between match_phrase and the old -ish
    val bag = Search.bm25TopK(docs, fields,
        Seq((1L, "hash join")).toDF("query_id", "qtext"), k = 10, minScore = 0.0)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(bag.contains(2L))

    // minimum_should_match 1: one matched clause of several suffices, and a
    // doc matching two phrases outscores the same doc shape matching one
    val docs2 = Seq(
      (1L, "alpha beta", "gamma delta", "z"),
      (2L, "alpha beta", "q r", "z"),
      (3L, "no match here", "q r", "z")
    ).toDF("doc_id", "question", "answer", "content")
    val phrases2 = Seq((7L, "alpha beta"), (7L, "gamma delta"))
      .toDF("query_id", "phrase")
    val out2 = Search.bm25PhraseTopK(docs2, fields, phrases2, k = 10,
        minScore = Some(0.0))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(out2.keySet == Set(1L, 2L))
    assert(out2(1L) > out2(2L), "two matched clauses must sum above one")

    // the reference caller's tier table (elif ordering: 3-5 phrases get the
    // HIGHEST floor — html_converter.py:431-437, reproduced faithfully)
    assert(Search.phraseMinScore(1) == 1.5 && Search.phraseMinScore(2) == 1.5)
    assert(Search.phraseMinScore(3) == 2.5 && Search.phraseMinScore(5) == 2.5)
    assert(Search.phraseMinScore(6) == 2.0)

    // whitespace canonicalization: a doc whose field carries runs of
    // spaces (possible at the gate — array_join over empty split tokens)
    // still phrase-matches, because adjacency is defined on the TOKEN
    // view, which both the gate and the scorer canonicalize to
    val spaced = Seq((1L, "hash  join x", "a", "b"), (2L, "y", "a", "b"))
      .toDF("doc_id", "question", "answer", "content")
    val gotSpaced = Search.bm25PhraseTopK(spaced, fields,
        Seq((9L, " hash   join ")).toDF("query_id", "phrase"),
        k = 10, minScore = Some(0.0))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(gotSpaced == Set(1L))
  }

  test("bm25 indexed probe == direct path; tf scan carries a tb partition filter") {
    import graft.ops.Search
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0),
      Search.Field("content", 2.0))
    val docs = (0L until 60L).map { i =>
      (i, s"w${i % 7} hash join w${i % 5}", s"w${i % 3} spark", s"tail w${i % 11} x")
    }.toDF("doc_id", "question", "answer", "content")
    val queries = Seq((1L, "hash join"), (2L, "spark w2"))
      .toDF("query_id", "qtext")
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-idx").toString
    Search.bm25Index(docs, fields, path, termBuckets = 8, withText = false)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))).toSet
    val direct = asSet(Search.bm25TopK(docs, fields, queries, k = 5, minScore = 0.0))
    val indexed = Search.bm25TopKIndexed(spark, path, queries, fields,
      k = 5, minScore = 0.0)
    assert(asSet(indexed) == direct)
    // the probe must NOT read the whole inverted index: the tf scan carries
    // a tb PARTITION filter covering only the query terms' buckets
    val planStr = indexed.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [") && planStr.contains("tb"),
      s"no tb partition filter in:\n${planStr.take(800)}")
  }

  test("bm25 append onto an empty-corpus index == direct path") {
    import graft.ops.Search
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0),
      Search.Field("content", 2.0))
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "question", "answer", "content")
    val one = Seq((7L, "hash join spark", "spark answer", "tail x"))
      .toDF("doc_id", "question", "answer", "content")
    val queries = Seq((1L, "hash join"), (2L, "spark")).toDF("query_id", "qtext")
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-empty").toString
    Search.bm25Index(empty, fields, path, termBuckets = 8)
    // the meta of an empty-corpus index has zero rows: the append must
    // read it as "no standing index", i.e. a first build of the delta
    Search.bm25IndexAppend(one, fields, path)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))).toSet
    val indexed = asSet(Search.bm25TopKIndexed(spark, path, queries, fields,
      k = 5, minScore = 0.0))
    val direct = asSet(Search.bm25TopK(one, fields, queries, k = 5, minScore = 0.0))
    assert(direct.map(_._2) == Set(7L))
    assert(indexed == direct)
  }

  test("bm25 index append == full rebuild; indexed phrase probe == direct") {
    import graft.ops.Search
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0),
      Search.Field("content", 2.0))
    def mk(lo: Long, hi: Long) = (lo until hi).map { i =>
      (i, s"w${i % 7} hash join w${i % 5}", s"w${i % 3} spark", s"tail w${i % 11} x")
    }.toDF("doc_id", "question", "answer", "content")
    val docs0 = mk(0L, 40L)
    val delta = mk(40L, 60L) // NEW ids — the append contract
    val union = mk(0L, 60L)
    val queries = Seq((1L, "hash join"), (2L, "spark w2")).toDF("query_id", "qtext")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))).toSet

    // incremental: index docs0, append delta — O(delta), no rebuild
    val inc = java.nio.file.Files.createTempDirectory("graft-bm25-inc").toString
    Search.bm25Index(docs0, fields, inc, termBuckets = 8)
    Search.bm25IndexAppend(delta, fields, inc)
    // full rebuild over the union — the reference result
    val full = java.nio.file.Files.createTempDirectory("graft-bm25-full").toString
    Search.bm25Index(union, fields, full, termBuckets = 8)

    val viaInc = asSet(Search.bm25TopKIndexed(spark, inc, queries, fields,
      k = 5, minScore = 0.0))
    val viaFull = asSet(Search.bm25TopKIndexed(spark, full, queries, fields,
      k = 5, minScore = 0.0))
    val direct = asSet(Search.bm25TopK(union, fields, queries, k = 5,
      minScore = 0.0))
    assert(viaInc == viaFull, "append must reproduce the rebuilt index")
    assert(viaInc == direct, "indexed must reproduce the direct path")
    // appended docs actually surface (not just old-corpus agreement)
    assert(viaInc.exists(_._2 >= 40L), s"no appended doc in top-k: $viaInc")

    // a withText mismatch must fail BEFORE any write: appending
    // withText=false into a withText=true index writes dlen rows without
    // the txt column — those docs would silently never phrase-match
    intercept[IllegalArgumentException] {
      Search.bm25IndexAppend(mk(60L, 65L), fields, inc, withText = false)
    }
    assert(asSet(Search.bm25TopKIndexed(spark, inc, queries, fields,
      k = 5, minScore = 0.0)) == viaInc,
      "failed with_text append must leave the index byte-identical")

    // indexed phrase probe: gate over candidates' stored text == the
    // direct corpus-scan gate, across the appended index
    val phrases = Seq((1L, "hash join"), (2L, "w2 spark"))
      .toDF("query_id", "phrase")
    val phDirect = asSet(Search.bm25PhraseTopK(union, fields, phrases,
      k = 5, minScore = Some(0.0)))
    val phIndexed = asSet(Search.bm25PhraseTopKIndexed(spark, inc, phrases,
      fields, k = 5, minScore = Some(0.0)))
    assert(phIndexed == phDirect)
    // order sensitivity survives the indexed path: "w2 spark" (answer is
    // "w2 spark" only when i%3==2) must not match docs whose answer is
    // "w0 spark"/"w1 spark"
    assert(phIndexed.collect { case (2L, id, _, _) => id }.forall(_ % 3 == 2))

    // compaction: append-grown index rewritten in place — identical probe
    // results, strictly fewer data files under tf
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles.map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir))
    }
    val before = parquetFiles(s"$inc/tf")
    Search.bm25IndexCompact(spark, inc)
    assert(parquetFiles(s"$inc/tf") < before,
      s"compaction must shrink the file count (was $before)")
    assert(asSet(Search.bm25TopKIndexed(spark, inc, queries, fields,
      k = 5, minScore = 0.0)) == direct)
    assert(asSet(Search.bm25PhraseTopKIndexed(spark, inc, phrases,
      fields, k = 5, minScore = Some(0.0))) == phDirect)
  }

  /** Runs `body` and returns its value with the task count of every stage
    * submitted meanwhile and the physical plan (before adaptive execution
    * rewrites it) of every SQL execution it ran; a sentinel action flushes
    * both listeners.
    */
  private def withStagesAndPlans[T](body: => T)
      : (T, Seq[Int], Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val sentinel = s"flush-${java.util.UUID.randomUUID()}"
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val flushed = new java.util.concurrent.CountDownLatch(2)
    val stages = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        tasks.add(Integer.valueOf(e.stageInfo.numTasks))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == sentinel))
          flushed.countDown()
    }
    val executions = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.analyzed.toString.contains(sentinel)) flushed.countDown()
        else plans.add(qe.sparkPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(stages)
    spark.listenerManager.register(executions)
    try {
      val out = body
      spark.sparkContext.setJobDescription(sentinel)
      try spark.range(1).select(lit(sentinel)).collect()
      finally spark.sparkContext.setJobDescription(null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus not flushed")
      import scala.jdk.CollectionConverters._
      (out, tasks.asScala.toSeq.map(_.intValue), plans.asScala.toSeq)
    } finally {
      spark.sparkContext.removeSparkListener(stages)
      spark.listenerManager.unregister(executions)
    }
  }

  /** rootPaths of every scan of `tfRoot` (or of a directory under it) in
    * `plans`.
    */
  private def tfScanRoots(plans: Seq[org.apache.spark.sql.execution.SparkPlan],
      tfRoot: String): Seq[Seq[org.apache.hadoop.fs.Path]] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    def local(p: org.apache.hadoop.fs.Path) = p.toUri.getPath.stripSuffix("/")
    val root = new java.io.File(tfRoot).getAbsolutePath
    plans.flatMap(_.collectWithSubqueries { case s: FileSourceScanExec => s })
      .map(_.relation.location.rootPaths)
      .filter(_.exists(r => local(r) == root || local(r.getParent) == root))
  }

  private def tbOf(terms: Seq[String], termBuckets: Int): Map[String, Long] =
    terms.toDF("term")
      .select($"term", pmod(xxhash64($"term"), lit(termBuckets.toLong)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def tbDirs(tfRoot: String): Set[String] =
    new java.io.File(tfRoot).listFiles.map(_.getName).filter(_.startsWith("tb=")).toSet

  test("bm25 indexed probes at 64 buckets list only the probed tb dirs; no 64-task job") {
    import graft.ops.Search
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0),
      Search.Field("content", 2.0))
    // ~600 distinct terms: every one of the 64 buckets gets a directory, so
    // a probe that lists the tf root lists 64 directories
    val docs = (0L until 200L).map { i =>
      (i, s"q$i hash join w${i % 7}", s"a$i spark", s"c$i tail w${i % 5}")
    }.toDF("doc_id", "question", "answer", "content")
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-64").toString
    Search.bm25Index(docs, fields, path, termBuckets = 64)
    val tfRoot = s"$path/tf"
    val existing = tbDirs(tfRoot)
    assert(existing.size == 64)

    def check(name: String, terms: Seq[String], probe: => org.apache.spark.sql.DataFrame): Unit = {
      val (rows, tasks, plans) = withStagesAndPlans(probe.collect())
      assert(rows.nonEmpty, name)
      assert(tasks.nonEmpty && tasks.forall(_ < 64), s"$name stage task counts: $tasks")
      val probed = tbOf(terms, 64).values.map(b => s"tb=$b").toSet
      val roots = tfScanRoots(plans, tfRoot)
      assert(roots.nonEmpty, s"$name: no tf scan")
      roots.foreach { r =>
        assert(r.map(_.getName).toSet == (probed & existing), name)
        assert(r.forall(_.getParent.getName == "tf"), s"$name read $r")
      }
    }
    check("terms", Seq("hash", "join", "spark", "q3"),
      Search.bm25TopKIndexed(spark, path,
        Seq((1L, "hash join"), (2L, "spark q3")).toDF("query_id", "qtext"),
        fields, k = 5))
    check("phrase", Seq("hash", "join", "a3", "spark"),
      Search.bm25PhraseTopKIndexed(spark, path,
        Seq((1L, "hash join"), (2L, "a3 spark")).toDF("query_id", "phrase"),
        fields, k = 5, minScore = Some(0.0)))
  }

  test("bm25 indexed probes whose buckets have no directory return no rows without reading the tf root") {
    import graft.ops.Search
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0))
    val docs = Seq((1L, "alpha beta", "gamma"), (2L, "beta delta", "alpha"))
      .toDF("doc_id", "question", "answer")
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-nodir").toString
    Search.bm25Index(docs, fields, path, termBuckets = 64)
    val tfRoot = s"$path/tf"
    val existing = tbDirs(tfRoot)
    assert(existing.nonEmpty && existing.size < 64)
    val absent = tbOf((0 until 200).map(i => s"zq$i"), 64).toSeq.sortBy(_._1)
      .collect { case (t, b) if !existing(s"tb=$b") => t }.take(2)
    assert(absent.size == 2)
    val probes = Seq(
      "terms" -> (() => Search.bm25TopKIndexed(spark, path,
        Seq((1L, absent.mkString(" "))).toDF("query_id", "qtext"),
        fields, k = 5)),
      "phrase" -> (() => Search.bm25PhraseTopKIndexed(spark, path,
        Seq((1L, absent.mkString(" "))).toDF("query_id", "phrase"),
        fields, k = 5, minScore = Some(0.0))))
    probes.foreach { case (name, probe) =>
      val (rows, _, plans) = withStagesAndPlans(probe().collect())
      assert(rows.isEmpty, name)
      val roots = tfScanRoots(plans, tfRoot)
      assert(roots.nonEmpty, s"$name: no tf scan")
      // one existing tb= directory (the filter leaves zero rows), never the root
      roots.foreach { r =>
        assert(r.size == 1 && existing(r.head.getName) && r.head.getParent.getName == "tf",
          s"$name read $r")
      }
    }
  }

  test("bm25 append writes meta as one file equal to one build over both batches") {
    import graft.ops.Search
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0),
      Search.Field("content", 2.0))
    def mk(lo: Long, hi: Long) = (lo until hi).map { i =>
      (i, s"w${i % 7} hash join w${i % 5}", if (i % 4 == 0) "" else s"w${i % 3} spark",
        s"tail w${i % 11} x")
    }.toDF("doc_id", "question", "answer", "content")
    val inc = java.nio.file.Files.createTempDirectory("graft-bm25-meta-inc").toString
    Search.bm25Index(mk(0L, 40L), fields, inc, termBuckets = 8)
    Search.bm25IndexAppend(mk(40L, 60L), fields, inc)
    val full = java.nio.file.Files.createTempDirectory("graft-bm25-meta-full").toString
    Search.bm25Index(mk(0L, 60L), fields, full, termBuckets = 8)
    def metaOf(p: String) = {
      val files = new java.io.File(s"$p/meta").listFiles.map(_.getName)
        .filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"$p/meta: ${files.mkString(", ")}")
      spark.read.parquet(s"$p/meta").select("field", "sum_dl", "cnt", "avgdl", "n")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).toSet
    }
    val incMeta = metaOf(inc)
    assert(incMeta.map(_._1) == fields.map(_.name).toSet)
    assert(incMeta == metaOf(full))
  }

  /** Parquet data files directly under `dir`. */
  private def dataFiles(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten.map(_.getName)
      .filter(_.endsWith(".parquet")).toSet

  /** The `tb=` directory names of an index's tf and each one's data files. */
  private def tfLayout(path: String): Map[String, Set[String]] =
    tbDirs(s"$path/tf").map(d => d -> dataFiles(s"$path/tf/$d")).toMap

  private def termBucketsOf(path: String): Set[Int] =
    spark.read.parquet(s"$path/meta").select("term_buckets").collect()
      .map(_.getInt(0)).toSet

  test("Sizing.units: ceil(size / unit), at least 1; None for an unknown size or past Int range") {
    import graft.store.Sizing
    assert(Sizing.units(0L, 4L) == Some(1))
    assert(Sizing.units(4L, 4L) == Some(1))
    assert(Sizing.units(5L, 4L) == Some(2))
    assert(Sizing.units(-1L, 4L) == None)
    assert(Sizing.units(BigInt(Int.MaxValue) * 4 + 1, 4L) == None)
  }

  test("bm25 index sizes its files from the plan estimate; append and probes read the stored bucket count") {
    import graft.ops.Search
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0),
      Search.Field("content", 2.0))
    def mk(lo: Long, hi: Long) = (lo until hi).map { i =>
      (i, s"w${i % 7} hash join w${i % 5}", s"w${i % 3} spark", s"tail w${i % 11} x")
    }.toDF("doc_id", "question", "answer", "content")
    val queries = Seq((1L, "hash join"), (2L, "spark w2")).toDF("query_id", "qtext")
    val phrases = Seq((1L, "hash join"), (2L, "w2 spark")).toDF("query_id", "phrase")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))).toSet

    // a few KB of docs: one term bucket, one tf file, one dlen file
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-sized").toString
    Search.bm25Index(mk(0L, 40L), fields, path)
    assert(termBucketsOf(path) == Set(1))
    val built = tfLayout(path)
    assert(built.keySet == Set("tb=0") && built("tb=0").size == 1, built)
    val builtDlen = dataFiles(s"$path/dlen")
    assert(builtDlen.size == 1, builtDlen)

    // the append hashes with the stored count and adds one file to each
    Search.bm25IndexAppend(mk(40L, 60L), fields, path)
    assert(termBucketsOf(path) == Set(1))
    val appended = tfLayout(path)
    assert(appended.keySet == Set("tb=0"), appended)
    assert((appended("tb=0") -- built("tb=0")).size == 1 && appended("tb=0").size == 2, appended)
    val appendedDlen = dataFiles(s"$path/dlen")
    assert((appendedDlen -- builtDlen).size == 1 && appendedDlen.size == 2, appendedDlen)

    val union = mk(0L, 60L)
    assert(asSet(Search.bm25TopKIndexed(spark, path, queries, fields, k = 5)) ==
      asSet(Search.bm25TopK(union, fields, queries, k = 5)))
    assert(asSet(Search.bm25PhraseTopKIndexed(spark, path, phrases, fields, k = 5,
        minScore = Some(0.0))) ==
      asSet(Search.bm25PhraseTopK(union, fields, phrases, k = 5, minScore = Some(0.0))))

    // an RDD-backed frame has no size estimate: the 64-bucket layout
    val rddDocs = spark.createDataFrame(union.rdd, union.schema)
    val rddPath = java.nio.file.Files.createTempDirectory("graft-bm25-rdd").toString
    Search.bm25Index(rddDocs, fields, rddPath, withText = false)
    assert(termBucketsOf(rddPath) == Set(64))
    assert(asSet(Search.bm25TopKIndexed(spark, rddPath, queries, fields, k = 5)) ==
      asSet(Search.bm25TopK(union, fields, queries, k = 5)))

    // an explicit bucket count overrides the estimate
    val eight = java.nio.file.Files.createTempDirectory("graft-bm25-eight").toString
    Search.bm25Index(union, fields, eight, termBuckets = 8, withText = false)
    assert(termBucketsOf(eight) == Set(8))
    assert(tbDirs(s"$eight/tf").map(_.stripPrefix("tb=").toLong)
      .subsetOf((0L until 8L).toSet))
    assert(asSet(Search.bm25TopKIndexed(spark, eight, queries, fields, k = 5)) ==
      asSet(Search.bm25TopK(union, fields, queries, k = 5)))
  }

  test("bm25 compaction keeps the stored bucket count until tf outgrows it, and records the count in meta") {
    import graft.ops.Search
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0),
      Search.Field("content", 2.0))
    def mk(lo: Long, hi: Long) = (lo until hi).map { i =>
      (i, s"w${i % 7} hash join w${i % 5}", s"w${i % 3} spark", s"tail w${i % 11} x")
    }.toDF("doc_id", "question", "answer", "content")
    val queries = Seq((1L, "hash join"), (2L, "spark w2")).toDF("query_id", "qtext")
    val phrases = Seq((1L, "hash join"), (2L, "w2 spark")).toDF("query_id", "phrase")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))).toSet
    val union = mk(0L, 60L)
    def probesMatch(path: String): Unit = {
      assert(asSet(Search.bm25TopKIndexed(spark, path, queries, fields, k = 5)) ==
        asSet(Search.bm25TopK(union, fields, queries, k = 5)))
      assert(asSet(Search.bm25PhraseTopKIndexed(spark, path, phrases, fields, k = 5,
          minScore = Some(0.0))) ==
        asSet(Search.bm25PhraseTopK(union, fields, phrases, k = 5, minScore = Some(0.0))))
    }

    // tf is a few KB on disk, under 256 KiB: the explicit 8 stays
    val eight = java.nio.file.Files.createTempDirectory("graft-bm25-keep").toString
    Search.bm25Index(mk(0L, 40L), fields, eight, termBuckets = 8)
    Search.bm25IndexAppend(mk(40L, 60L), fields, eight)
    Search.bm25IndexCompact(spark, eight)
    assert(termBucketsOf(eight) == Set(8))
    val kept = tfLayout(eight)
    assert(kept.keySet.map(_.stripPrefix("tb=").toLong).subsetOf((0L until 8L).toSet) &&
      kept.size > 1 && kept.values.forall(_.size == 1), kept)
    probesMatch(eight)

    // a one-bucket index whose tf outgrows 256 KiB on disk gets 64 buckets
    def wide(lo: Long, hi: Long) = (lo until hi).map { i =>
      (i, s"hash join q${i % 13}", s"w${i % 3} spark",
        (0 until 40).map(j => s"t${(i * 31 + j * 97) % 20011}").mkString(" "))
    }.toDF("doc_id", "question", "answer", "content")
    val grown = java.nio.file.Files.createTempDirectory("graft-bm25-grow").toString
    Search.bm25Index(wide(0L, 3000L), fields, grown, termBuckets = 1)
    Search.bm25IndexAppend(wide(3000L, 6000L), fields, grown)
    assert(termBucketsOf(grown) == Set(1))
    val tfBytes = tfLayout(grown).toSeq.flatMap { case (d, fs) =>
      fs.toSeq.map(f => new java.io.File(s"$grown/tf/$d/$f").length) }.sum
    assert(tfBytes > (256L << 10), s"tf of $tfBytes bytes is too small for the check")
    Search.bm25IndexCompact(spark, grown)
    assert(termBucketsOf(grown) == Set(64))
    val regrown = tfLayout(grown)
    assert(regrown.keySet.map(_.stripPrefix("tb=").toLong).subsetOf((0L until 64L).toSet) &&
      regrown.size > 1 && regrown.values.forall(_.size == 1), regrown)
    val wideUnion = wide(0L, 6000L)
    val wideQ = Seq((1L, "t5 t77 hash"), (2L, "t1001 spark")).toDF("query_id", "qtext")
    assert(asSet(Search.bm25TopKIndexed(spark, grown, wideQ, fields, k = 5)) ==
      asSet(Search.bm25TopK(wideUnion, fields, wideQ, k = 5)))
    assert(asSet(Search.bm25PhraseTopKIndexed(spark, grown, phrases, fields, k = 5,
        minScore = Some(0.0))) ==
      asSet(Search.bm25PhraseTopK(wideUnion, fields, phrases, k = 5, minScore = Some(0.0))))
  }

  /** BM25 of one (field -> text) doc set in plain Scala, with the
    * program's documented formulas: whitespace tokens of the lowered text,
    * Lucene idf and saturation (k1 1.2, b 0.75), avgdl over the docs whose
    * field is non-empty, boosts per field, rounded to 6 decimals.
    */
  private final class ScalarBm25(docs: Seq[(Long, Map[String, String])],
      fields: Seq[graft.ops.Search.Field]) {
    private def toks(s: String): Seq[String] =
      Option(s).toSeq.flatMap(_.toLowerCase.split(" ")).filter(_.nonEmpty)
    private val tk = fields.map(f => f.name -> docs.map { case (d, m) =>
      d -> toks(m.getOrElse(f.name, null)) }.toMap).toMap
    private val n = docs.size.toDouble
    private def avgdl(f: String) = {
      val ls = tk(f).values.map(_.size).filter(_ > 0)
      ls.sum.toDouble / ls.size
    }
    private def termScore(f: graft.ops.Search.Field, t: String, d: Long): Double = {
      val ts = tk(f.name)(d)
      val tf = ts.count(_ == t)
      if (tf == 0) 0.0
      else {
        val df = tk(f.name).values.count(_.contains(t)).toDouble
        f.boost * math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
          (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * ts.size / avgdl(f.name))))
      }
    }
    private def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    /** Bag-of-terms scores of `q` (repeats count), docs with a hit only. */
    def scores(q: String): Map[Long, Double] = {
      val terms = toks(q)
      docs.map(_._1).filter(d => fields.exists(f => terms.exists(tk(f.name)(d).contains)))
        .map(d => d -> round6(fields.map(f => terms.map(termScore(f, _, d)).sum).sum)).toMap
    }
    /** match_phrase scores: each distinct non-blank phrase is one clause
      * per field, adding its terms' scores where it occurs consecutively.
      */
    def phraseScores(phrases: Seq[String]): Map[Long, Double] = {
      val clauses = phrases.map(toks).filter(_.nonEmpty).distinct
      docs.map(_._1).flatMap { d =>
        val hits = for (c <- clauses; f <- fields
          if (" " + tk(f.name)(d).mkString(" ") + " ").contains(" " + c.mkString(" ") + " "))
          yield c.map(termScore(f, _, d)).sum
        if (hits.isEmpty) None else Some(d -> round6(hits.sum))
      }.toMap
    }
  }

  private lazy val semDocs: Seq[(Long, Map[String, String])] = Seq(
    1L -> Map("question" -> "hash join fast", "answer" -> "spark shuffle", "content" -> "a b c"),
    2L -> Map("question" -> "hash table", "answer" -> "join hash", "content" -> "hash join spark"),
    3L -> Map("question" -> "window agg", "answer" -> "hash join", "content" -> "x y z w"),
    4L -> Map("question" -> "spark", "answer" -> "", "content" -> "join hash join"),
    5L -> Map("question" -> "sort merge", "answer" -> "merge join", "content" -> "q r"),
    6L -> Map("question" -> "z", "answer" -> "hash", "content" -> "spark hash join fast"))

  private def semFrame = semDocs.map { case (d, m) =>
    (d, m("question"), m("answer"), m("content")) }.toDF("doc_id", "question", "answer", "content")

  private val semFields = Seq(graft.ops.Search.Field("question", 1.0),
    graft.ops.Search.Field("answer", 0.5), graft.ops.Search.Field("content", 0.25))

  private def byQuery(df: org.apache.spark.sql.DataFrame): Map[Long, Map[Long, Double]] =
    df.collect().toSeq.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap }

  private def assertClose(got: Map[Long, Double], want: Map[Long, Double], what: String): Unit = {
    assert(got.keySet == want.keySet, s"$what: docs ${got.keySet} vs ${want.keySet}")
    got.foreach { case (d, s) => assert(math.abs(s - want(d)) <= 1e-6, s"$what doc $d: $s vs ${want(d)}") }
  }

  test("bm25 query batch on the driver: repeated terms, blank and empty batches == scalar BM25") {
    import graft.ops.Search
    val scalar = new ScalarBm25(semDocs, semFields)
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-batch").toString
    Search.bm25Index(semFrame, semFields, path, termBuckets = 4)
    // query 1 repeats "hash": the term counts twice, as the old join did
    val texts = Seq(1L -> "hash hash join", 2L -> "Hash join", 3L -> "", 4L -> "   ",
      5L -> "spark  fast")
    val queries = texts.toDF("query_id", "qtext")
    val want = texts.map { case (q, t) => q -> scalar.scores(t) }.toMap
    assert(want(1L).exists { case (d, s) => s > want(2L)(d) }, "repeat must raise a score")
    val direct = byQuery(Search.bm25TopK(semFrame, semFields, queries, k = 10))
    val indexed = byQuery(Search.bm25TopKIndexed(spark, path, queries, semFields, k = 10))
    Seq(1L, 2L, 5L).foreach { q =>
      assertClose(direct(q), want(q), s"direct q$q")
      assertClose(indexed(q), want(q), s"indexed q$q")
    }
    // blank queries score nothing but still get their envelope row
    assert(direct.keySet == Set(1L, 2L, 5L) && indexed.keySet == Set(1L, 2L, 5L))
    val stats = Search.bm25QueryStats(semFrame, semFields, queries, maxResults = 2)
      .collect().map(r => r.getAs[Long]("query_id") -> (r.getAs[Long]("total_count"),
        r.getAs[Long]("relevant_count"), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(stats.keySet == texts.map(_._1).toSet)
    texts.foreach { case (q, _) =>
      val w = want(q)
      assert(stats(q)._1 == w.size && stats(q)._2 == math.min(w.size, 2L), s"q$q $stats")
      assert(stats(q)._3 == (if (w.isEmpty) None else Some(w.values.max)), s"q$q $stats")
    }

    // an empty batch: empty results, no error
    val none = Seq.empty[(Long, String)].toDF("query_id", "qtext")
    assert(Search.bm25TopK(semFrame, semFields, none).collect().isEmpty)
    assert(Search.bm25TopKIndexed(spark, path, none, semFields).collect().isEmpty)
    assert(Search.bm25QueryStats(semFrame, semFields, none).collect().isEmpty)
    val noPhrases = Seq.empty[(Long, String)].toDF("query_id", "phrase")
    assert(Search.bm25PhraseTopK(semFrame, semFields, noPhrases).collect().isEmpty)
    assert(Search.bm25PhraseTopKIndexed(spark, path, noPhrases, semFields).collect().isEmpty)
  }

  test("bm25 phrase batch on the driver: duplicate and blank phrases are no clause == scalar BM25") {
    import graft.ops.Search
    val scalar = new ScalarBm25(semDocs, semFields)
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-pbatch").toString
    Search.bm25Index(semFrame, semFields, path, termBuckets = 4)
    // query 1: one clause written three ways and a blank phrase; query 2:
    // two clauses; query 3: only a blank phrase
    val rows = Seq(1L -> "hash join", 1L -> "hash join", 1L -> " Hash   JOIN ", 1L -> "   ",
      2L -> "hash join", 2L -> "spark hash", 3L -> "  ")
    val phrases = rows.toDF("query_id", "phrase")
    val want = Map(1L -> scalar.phraseScores(Seq("hash join")),
      2L -> scalar.phraseScores(Seq("hash join", "spark hash")))
    def check(got: Map[Long, Map[Long, Double]], floor: Long => Double, what: String): Unit = {
      assert(got.keySet.subsetOf(Set(1L, 2L)), s"$what: ${got.keySet}")
      want.foreach { case (q, w) =>
        assertClose(got.getOrElse(q, Map.empty), w.filter(_._2 >= floor(q)), s"$what q$q") }
    }
    val zero = (_: Long) => 0.0
    check(byQuery(Search.bm25PhraseTopK(semFrame, semFields, phrases, k = 10,
      minScore = Some(0.0))), zero, "direct")
    check(byQuery(Search.bm25PhraseTopKIndexed(spark, path, phrases, semFields, k = 10,
      minScore = Some(0.0))), zero, "indexed")
    // the tier counts distinct non-blank phrases: query 1 has one (floor
    // 1.5), not four (2.5); the corpus puts a query-1 score in between
    assert(want(1L).values.exists(s => s >= 1.5 && s < 2.5), want(1L))
    val tier = (q: Long) => Search.phraseMinScore(if (q == 1L) 1L else 2L)
    check(byQuery(Search.bm25PhraseTopK(semFrame, semFields, phrases, k = 10)), tier, "direct tier")
    check(byQuery(Search.bm25PhraseTopKIndexed(spark, path, phrases, semFields, k = 10)),
      tier, "indexed tier")
  }

  test("bm25 index takes n from the dlen write's observation; a doc of only empty fields counts in n, not in avgdl") {
    import graft.ops.Search
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0),
      Search.Field("content", 2.0))
    def mk(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "question", "answer", "content")
    val day0 = Seq((1L, "hash join", "spark", "a b c"), (2L, "", null, "  "),
      (3L, "window agg data", "x", ""))
    val day1 = Seq((4L, null, null, null), (5L, "hash", "join spark now", "q"))
    def metaOf(p: String) = spark.read.parquet(s"$p/meta").select("field", "avgdl", "n")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    def expected(rows: Seq[(Long, String, String, String)]) = {
      val lens = Seq("question" -> rows.map(_._2), "answer" -> rows.map(_._3),
        "content" -> rows.map(_._4)).map { case (f, ts) =>
        f -> ts.map(t => Option(t).toSeq.flatMap(_.split(" ")).count(_.nonEmpty)).filter(_ > 0) }
      lens.collect { case (f, ls) if ls.nonEmpty =>
        f -> (ls.sum.toDouble / ls.size, rows.size.toLong) }.toMap
    }
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-n").toString
    Search.bm25Index(mk(day0), fields, path)
    assert(mk(day0).count() == 3L)
    assert(metaOf(path) == expected(day0))
    Search.bm25IndexAppend(mk(day1), fields, path)
    assert(metaOf(path) == expected(day0 ++ day1))
    // the probe's n is the meta's: the all-empty docs lower every idf
    val q = Seq((1L, "hash join")).toDF("query_id", "qtext")
    val union = mk(day0 ++ day1)
    assert(Search.bm25TopKIndexed(spark, path, q, fields).collect().toSet ==
      Search.bm25TopK(union, fields, q).collect().toSet)
  }

  test("bm25 probes plan the query batch as literals: no exchange of only local rows; docfreq is the indexed probe's one broadcast") {
    import graft.ops.Search
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ReusedExchangeExec}
    val fields = Seq(Search.Field("question", 5.0), Search.Field("answer", 3.0),
      Search.Field("content", 2.0))
    // the corpus is a file table, so only driver-held data scans as local rows
    val docsPath = java.nio.file.Files.createTempDirectory("graft-bm25-lit-docs").toString
    (0L until 60L).map { i =>
      (i, s"w${i % 7} hash join w${i % 5}", s"w${i % 3} spark", s"tail w${i % 11} x")
    }.toDF("doc_id", "question", "answer", "content")
      .write.mode("overwrite").parquet(docsPath)
    val docs = spark.read.parquet(docsPath)
    val path = java.nio.file.Files.createTempDirectory("graft-bm25-lit").toString
    Search.bm25Index(docs, fields, path, termBuckets = 8)
    val queries = Seq((1L, "hash join"), (2L, "spark w2 w2")).toDF("query_id", "qtext")
    val phrases = Seq((1L, "hash join"), (2L, "w2 spark")).toDF("query_id", "phrase")

    object H extends AdaptiveSparkPlanHelper
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case s: QueryStageExec => leaves(s.plan)
      case r: ReusedExchangeExec => leaves(r.child)
      case l if l.children.isEmpty => Seq(l)
      case o => o.children.flatMap(leaves)
    }
    def executed(name: String, df: => org.apache.spark.sql.DataFrame): SparkPlan = {
      val d = df
      assert(d.collect().nonEmpty, name)
      val plan = d.queryExecution.executedPlan
      val local = H.collect(plan) { case e: Exchange => e }
        .filter(e => leaves(e).forall(_.isInstanceOf[LocalTableScanExec]))
      assert(local.isEmpty, s"$name: exchanges of only local rows:\n${local.mkString("\n")}")
      plan
    }
    val terms = executed("bm25TopKIndexed",
      Search.bm25TopKIndexed(spark, path, queries, fields, k = 5))
    val broadcasts = H.collect(terms) { case b: BroadcastExchangeLike => b }
    assert(broadcasts.size == 1 && broadcasts.head.toString.contains("term"),
      s"broadcasts: ${broadcasts.mkString("\n")}")
    val planStr = terms.toString + H.collect(terms) { case s: QueryStageExec => s.plan.toString }.mkString
    assert(planStr.contains("PartitionFilters: [") && planStr.contains("tb"),
      s"no tb partition filter in:\n${planStr.take(800)}")
    executed("bm25PhraseTopKIndexed",
      Search.bm25PhraseTopKIndexed(spark, path, phrases, fields, k = 5, minScore = Some(0.0)))
    executed("bm25QueryStats", Search.bm25QueryStats(docs, fields, queries))
    executed("bm25TopK", Search.bm25TopK(docs, fields, queries, k = 5))
    executed("bm25PhraseTopK",
      Search.bm25PhraseTopK(docs, fields, phrases, k = 5, minScore = Some(0.0)))

    // resolving a local batch runs no job: the indexed probe's call reads
    // only meta; a batch read from files is one collect more (the last
    // stage is the helper's flush sentinel)
    def callStages(q: org.apache.spark.sql.DataFrame): Int =
      withStagesAndPlans(Search.bm25TopKIndexed(spark, path, q, fields))._2.init.size
    assert(callStages(queries) == 1)
    val qPath = java.nio.file.Files.createTempDirectory("graft-bm25-lit-q").toString
    queries.write.mode("overwrite").parquet(qPath)
    assert(callStages(spark.read.parquet(qPath)) == 2)
  }

  test("multimodal plumbing: deterministic stub features, exact schema") {
    val media = Multimodal.withFakePayload(docs.select($"doc_id"))
    val feats = Multimodal.extractFeatures(spark, media).cache()
    assert(feats.count() == 60)
    val row = feats.filter($"doc_id" === 0L).collect().head
    val again = Multimodal.extractFeatures(spark, media)
      .filter($"doc_id" === 0L).collect().head
    assert(row.content_sha256 == again.content_sha256)
    assert(row.feature.toSeq == again.feature.toSeq)
    assert(row.feature.length == 8)
    assert(Set("image", "audio", "video").contains(row.media_type))
  }

  test("multimodal frame-sample + resize: exact counts, declarative explode, deterministic") {
    val media = Multimodal.withFakeMeta(docs.select($"doc_id")).cache()
    val frames = Multimodal.sampleFrames(media, everyMs = 1000L).cache()
    // every video row yields ceil(duration/1000) frames in [0, duration) —
    // no frame at t == duration, where a real decoder has only EOF
    val durs = media.filter($"media_type" === "video")
      .select($"doc_id", $"duration_ms").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(durs.nonEmpty)
    val counts = frames.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.keySet == durs.keySet)
    durs.foreach { case (id, d) =>
      assert(counts(id) == (d - 1) / 1000L + 1L, s"doc $id") }
    val maxByDoc = frames.groupBy("doc_id").agg(max($"frame_ts_ms").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    maxByDoc.foreach { case (id, m) => assert(m < durs(id), s"doc $id: $m >= ${durs(id)}") }
    val someId = durs.keySet.head
    val ts = frames.filter($"doc_id" === someId).orderBy("frame_idx")
      .select("frame_ts_ms").collect().map(_.getLong(0))
    assert(ts.head == 0L && ts.zipWithIndex.forall { case (t, i) => t == i * 1000L })
    // determinism: same frame payloads on re-run
    val p1 = frames.filter($"doc_id" === someId && $"frame_idx" === 0)
      .collect().head.getAs[Array[Byte]]("frame_payload").toSeq
    val p2 = Multimodal.sampleFrames(media, 1000L)
      .filter($"doc_id" === someId && $"frame_idx" === 0)
      .collect().head.getAs[Array[Byte]]("frame_payload").toSeq
    assert(p1 == p2 && p1.nonEmpty)
    // the explode is codegen'd sequence/posexplode, not a UDF stage
    val plan = frames.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), plan)

    val resized = Multimodal.resizeImages(spark, media, 320, 180).cache()
    assert(resized.count() == media.filter($"media_type" === "image").count())
    resized.collect().foreach { r =>
      assert(r.getAs[Int]("width") == 320 && r.getAs[Int]("height") == 180)
      assert(r.getAs[Array[Byte]]("payload").length == 32) // sha256 stub bytes
    }
    media.unpersist(false); frames.unpersist(false); resized.unpersist(false)
  }

  test("multimodal imageMeta: parses REAL JDK-ImageIO-encoded bytes (PNG/GIF/JPEG)") {
    // the one test the SQL-constructed gate fixture cannot give: the
    // payloads here come out of the JDK's own encoders, so a wrong
    // offset/endianness in the parser cannot hide behind a fixture that
    // shares its mistake
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      var x = 0
      while (x < w) {
        var y = 0
        while (y < h) { img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff); y += 1 }
        x += 1
      }
      val out = new ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, out), s"JDK has no $fmt writer")
      out.toByteArray
    }
    val cases = Seq(
      (1L, "png", 321, 17), (2L, "png", 1, 1), (3L, "gif", 200, 321),
      (4L, "gif", 65, 1), (5L, "jpeg", 123, 45), (6L, "jpg", 640, 480))
    val rows = cases.map { case (id, f, w, h) => (id, f, w, h, encode(f, w, h)) } ++ Seq(
      (7L, "unknown", -1, -1, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10)),
      // truncated PNG: signature intact, IHDR missing → png with null dims
      (8L, "png", -1, -1, encode("png", 9, 9).take(10)))
    val df = rows.toDF("doc_id", "exp_fmt", "exp_w", "exp_h", "payload")
    val got = Multimodal.imageMeta(df)
      .select("doc_id", "exp_fmt", "exp_w", "exp_h",
        "img_format", "img_width", "img_height")
      .collect().map(r => r.getLong(0) -> r).toMap
    rows.foreach { case (id, f, w, h, _) =>
      val r = got(id)
      val expFmt = if (f == "jpg") "jpeg" else f
      assert(r.getString(4) == expFmt, s"doc $id fmt: $r")
      if (w >= 0) {
        assert(r.getInt(5) == w && r.getInt(6) == h, s"doc $id dims: $r")
      } else {
        assert(r.isNullAt(5) && r.isNullAt(6), s"doc $id should have null dims: $r")
      }
    }
    // scale shape: a narrow projection — no Exchange, no UDF stage
    val plan = Multimodal.imageMeta(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.toLowerCase.contains("batchevalpython"), plan)
  }

  test("multimodal audioMeta: parses REAL JDK-AudioSystem-encoded WAV bytes") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem, AudioFileFormat}
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    def encode(rate: Float, bits: Int, channels: Int, frames: Int): Array[Byte] = {
      val af = new AudioFormat(rate, bits, channels, true, false)
      val bytesPerFrame = channels * bits / 8
      val raw = Array.tabulate[Byte](frames * bytesPerFrame)(i => (i * 37 % 251).toByte)
      val ais = new AudioInputStream(new ByteArrayInputStream(raw), af, frames.toLong)
      val out = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    // (id, rate, bits, channels, frames) → duration = frames*1000/rate
    val cases = Seq(
      (1L, 44100f, 16, 2, 44100), // 1000 ms stereo CD
      (2L, 16000f, 16, 1, 4000), // 250 ms mono
      (3L, 8000f, 8, 1, 123)) // 15 ms 8-bit
    val rows = cases.map { case (id, r, b, c, n) => (id, r.toInt, b, c, n, encode(r, b, c, n)) }
    val df = rows.map { case (id, r, b, c, n, bytes) => (id, r, b, c, n, bytes) }
      .toDF("doc_id", "exp_rate", "exp_bits", "exp_ch", "frames", "payload")
    val got = Multimodal.audioMeta(df).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    rows.foreach { case (id, rate, bits, ch, frames, _) =>
      val r = got(id)
      assert(r.getAs[String]("audio_format") == "wav", s"doc $id: $r")
      assert(r.getAs[Int]("audio_channels") == ch, s"doc $id ch: $r")
      assert(r.getAs[Int]("audio_sample_rate") == rate, s"doc $id rate: $r")
      assert(r.getAs[Int]("audio_bits") == bits, s"doc $id bits: $r")
      assert(r.getAs[Long]("audio_duration_ms") == frames.toLong * 1000 / rate,
        s"doc $id duration: $r")
    }
    // corrupt / non-RIFF payloads degrade to unknown, never error
    val junk = Seq((9L, Array.fill[Byte](50)(0x42))).toDF("doc_id", "payload")
    val jr = Multimodal.audioMeta(junk).collect().head
    assert(jr.getAs[String]("audio_format") == "unknown" &&
      jr.isNullAt(jr.fieldIndex("audio_channels")))
    val plan = Multimodal.audioMeta(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("multimodal videoMeta: ISO-BMFF box walk over genuinely muxed MP4 structures") {
    import graft.ops.Multimodal
    import java.io.ByteArrayOutputStream
    // hand muxer: real box layout (BE sizes, container nesting, full-size
    // mvhd/tkhd with matrix/reserved tails), both header versions,
    // extended (64-bit) sizes, and a size-0 run-to-EOF trailer
    def be(v: Long, n: Int): Array[Byte] =
      (n - 1 to 0 by -1).map(i => ((v >>> (8 * i)) & 0xff).toByte).toArray
    def box(typ: String, payload: Array[Byte], extended: Boolean = false): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      if (extended) {
        out.write(be(1L, 4)); out.write(typ.getBytes("US-ASCII"))
        out.write(be(16L + payload.length, 8))
      } else {
        out.write(be(8L + payload.length, 4)); out.write(typ.getBytes("US-ASCII"))
      }
      out.write(payload); out.toByteArray
    }
    def mvhd(v: Int, ts: Long, dur: Long): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(v); out.write(new Array[Byte](3)) // version + flags
      out.write(new Array[Byte](if (v == 1) 16 else 8)) // ctime/mtime
      out.write(be(ts, 4)); out.write(be(dur, if (v == 1) 8 else 4))
      out.write(new Array[Byte](80)) // rate/volume/matrix/predefined tail
      box("mvhd", out.toByteArray)
    }
    def tkhd(v: Int, w: Int, h: Int): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(v); out.write(new Array[Byte](3))
      out.write(new Array[Byte](if (v == 1) 32 else 20)) // times/id/res/dur
      out.write(new Array[Byte](16)) // reserved + layer/alt/volume/res
      out.write(new Array[Byte](36)) // matrix
      out.write(be(w.toLong << 16, 4)); out.write(be(h.toLong << 16, 4))
      box("tkhd", out.toByteArray)
    }
    def mp4(v: Int, ts: Long, dur: Long, w: Int, h: Int,
        extMdat: Boolean = false, trailer0: Boolean = false): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(box("ftyp", "isom".getBytes("US-ASCII") ++ be(0x200L, 4)))
      out.write(box("mdat", Array.fill[Byte](12)(0x5a), extended = extMdat))
      val moov = new ByteArrayOutputStream()
      moov.write(mvhd(v, ts, dur))
      moov.write(box("trak", tkhd(v, 0, 0))) // audio trak first: 0x0 dims
      moov.write(box("trak", tkhd(v, w, h)))
      out.write(box("moov", moov.toByteArray))
      if (trailer0) { // size-0 box: runs to EOF
        out.write(be(0L, 4)); out.write("free".getBytes("US-ASCII"))
        out.write(Array.fill[Byte](5)(9))
      }
      out.toByteArray
    }
    val full = mp4(0, 1000L, 7321L, 640, 360)
    val cases = Seq(
      (1L, full, ("mp4", 640, 360, 7321L)),
      (2L, mp4(1, 600L, 900L, 1920, 1080), ("mp4", 1920, 1080, 1500L)),
      (3L, mp4(0, 90000L, 123456L, 320, 240, extMdat = true),
        ("mp4", 320, 240, 1371L)), // floor(123456*1000/90000)
      (4L, mp4(1, 1000L, 250L, 12, 34, trailer0 = true), ("mp4", 12, 34, 250L)))
    val df = cases.map { case (id, bytes, _) => (id, bytes) }.toDF("doc_id", "payload")
    val got = Multimodal.videoMeta(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    cases.foreach { case (id, _, (fmt, w, h, ms)) =>
      val r = got(id)
      assert(r.getAs[String]("video_format") == fmt, s"doc $id: $r")
      assert(r.getAs[Int]("video_width") == w, s"doc $id w: $r")
      assert(r.getAs[Int]("video_height") == h, s"doc $id h: $r")
      assert(r.getAs[Long]("video_duration_ms") == ms, s"doc $id ms: $r")
    }
    // truncation mid-moov: mvhd was seen, the video tkhd was not — the
    // found duration survives, dims stay null, no error
    val cut = full.take(full.length - 60)
    val tr = Multimodal.videoMeta(Seq((9L, cut)).toDF("doc_id", "payload"))
      .collect().head
    assert(tr.getAs[String]("video_format") == "mp4")
    assert(tr.isNullAt(tr.fieldIndex("video_width")), tr.toString)
    assert(tr.getAs[Long]("video_duration_ms") == 7321L, tr.toString)
    // junk and empty payloads degrade to unknown, never error
    val junk = Seq((10L, Array.fill[Byte](40)(0x42)), (11L, Array.empty[Byte]))
      .toDF("doc_id", "payload")
    Multimodal.videoMeta(junk).collect().foreach { r =>
      assert(r.getAs[String]("video_format") == "unknown" &&
        r.isNullAt(r.fieldIndex("video_width")), r.toString)
    }
    // scale shape: the whole decode rides the scan projection, no Exchange
    val plan = Multimodal.videoMeta(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("multimodal audioMeta mp3: spec-exact frame headers, ID3 skip, CBR duration") {
    import graft.ops.Multimodal
    // hand-muxed MPEG audio: optional ID3v2 (syncsafe size), optional
    // padding, one spec-exact 4-byte frame header, junk body
    def mp3(verBits: Int, layerBits: Int, brIdx: Int, srIdx: Int, mode: Int,
        id3Size: Int = -1, pad: Int = 0, body: Int = 417): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      if (id3Size >= 0) {
        out.write("ID3".getBytes("US-ASCII")); out.write(3); out.write(0)
        out.write(0) // flags
        out.write((id3Size >> 21) & 0x7F); out.write((id3Size >> 14) & 0x7F)
        out.write((id3Size >> 7) & 0x7F); out.write(id3Size & 0x7F)
        out.write(new Array[Byte](id3Size))
      }
      out.write(new Array[Byte](pad)) // zeros: never a false sync
      out.write(0xFF)
      out.write(0xE0 | (verBits << 3) | (layerBits << 1) | 1)
      out.write((brIdx << 4) | (srIdx << 2))
      out.write(mode << 6)
      out.write(Array.fill[Byte](body)(0x11))
      out.toByteArray
    }
    def expectDur(bytes: Array[Byte], frameOff0: Int, kbps: Int): Long =
      (bytes.length - frameOff0).toLong * 8 / kbps
    val bare = mp3(3, 1, 9, 0, 0) // V1 L3 128kbps 44100 stereo, no tag
    val tagged = mp3(2, 1, 3, 1, 3, id3Size = 100) // V2 L3 24kbps 24000 mono
    val padded = mp3(0, 1, 1, 2, 3, id3Size = 40, pad = 5) // V2.5 L3 8kbps 8000
    val free = mp3(3, 1, 0, 0, 1) // free-format: bitrate/duration null
    val cases = Seq(
      (1L, bare, (2, 44100, 128, expectDur(bare, 0, 128))),
      (2L, tagged, (1, 24000, 24, expectDur(tagged, 110, 24))),
      (3L, padded, (1, 8000, 8, expectDur(padded, 55, 8))))
    val df = (cases.map { case (id, b, _) => (id, b) } :+ ((4L, free)))
      .toDF("doc_id", "payload")
    val got = Multimodal.audioMeta(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    cases.foreach { case (id, _, (ch, rate, kbps, ms)) =>
      val r = got(id)
      assert(r.getAs[String]("audio_format") == "mp3", s"doc $id: $r")
      assert(r.getAs[Int]("audio_channels") == ch, s"doc $id ch: $r")
      assert(r.getAs[Int]("audio_sample_rate") == rate, s"doc $id rate: $r")
      assert(r.getAs[Int]("audio_bitrate_kbps") == kbps, s"doc $id kbps: $r")
      assert(r.getAs[Long]("audio_duration_ms") == ms, s"doc $id ms: $r")
      assert(r.isNullAt(r.fieldIndex("audio_bits")), s"doc $id bits: $r")
    }
    val fr = got(4L)
    assert(fr.getAs[String]("audio_format") == "mp3")
    assert(fr.getAs[Int]("audio_channels") == 2 &&
      fr.getAs[Int]("audio_sample_rate") == 44100, fr.toString)
    assert(fr.isNullAt(fr.fieldIndex("audio_bitrate_kbps")) &&
      fr.isNullAt(fr.fieldIndex("audio_duration_ms")), fr.toString)
    // trailing 128-byte ID3v1 tag: metadata, excluded from the CBR
    // duration estimate
    val trailed = bare ++ ("TAG".getBytes("US-ASCII") ++ new Array[Byte](125))
    val td = Multimodal.audioMeta(Seq((8L, trailed)).toDF("doc_id", "payload"))
      .collect().head
    assert(td.getAs[Long]("audio_duration_ms") == expectDur(bare, 0, 128),
      td.toString)

    // an ID3 tag with NO legal frame within the scan window: mp3-shaped
    // but every field null (the scan finds nothing, never errors)
    val noFrame = mp3(3, 1, 9, 0, 0, id3Size = 16).takeWhile(_ != 0xFF.toByte)
    val nf = Multimodal.audioMeta(Seq((9L, noFrame)).toDF("doc_id", "payload"))
      .collect().head
    assert(nf.getAs[String]("audio_format") == "mp3" &&
      nf.isNullAt(nf.fieldIndex("audio_sample_rate")), nf.toString)
    // scale shape: no Exchange
    val plan = Multimodal.audioMeta(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("multimodal audioMeta mp3: Xing/Info/VBRI exact duration, truncation fallback") {
    import graft.ops.Multimodal
    def u32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    // one spec-exact L3 frame with a VBR header after the side info
    // (Xing/Info) or at the fixed 32-byte offset (VBRI); 0x11 filler
    def mp3vbr(verBits: Int, brIdx: Int, srIdx: Int, mode: Int, tag: String,
        frames: Long, flags: Long = 1L, id3Size: Int = -1,
        total: Int = 204, crc: Boolean = false): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      if (id3Size >= 0) {
        out.write("ID3".getBytes("US-ASCII")); out.write(3); out.write(0)
        out.write(0)
        out.write((id3Size >> 21) & 0x7F); out.write((id3Size >> 14) & 0x7F)
        out.write((id3Size >> 7) & 0x7F); out.write(id3Size & 0x7F)
        out.write(new Array[Byte](id3Size))
      }
      val mark = out.size()
      out.write(0xFF)
      // L3; protection bit 0 = CRC-16 present between header and side info
      out.write(0xE0 | (verBits << 3) | (1 << 1) | (if (crc) 0 else 1))
      out.write((brIdx << 4) | (srIdx << 2))
      out.write(mode << 6)
      if (tag == "VBRI") {
        out.write(new Array[Byte](32))
        out.write("VBRI".getBytes("US-ASCII"))
        out.write(Array[Byte](0, 1, 0, 0, 0, 0)) // version, delay, quality
        out.write(u32(0L)) // bytes field (unused by the parser)
        out.write(u32(frames))
      } else {
        if (crc) { out.write(0xBE); out.write(0xEF) }
        val side = if (verBits == 3) { if (mode == 3) 17 else 32 }
          else { if (mode == 3) 9 else 17 }
        out.write(new Array[Byte](side))
        out.write(tag.getBytes("US-ASCII"))
        out.write(u32(flags)); out.write(u32(frames))
      }
      while (out.size() - mark < total) out.write(0x11)
      out.toByteArray
    }
    // (id, bytes, expected (vbr, kbps, durMs)); frame is always 204 bytes
    // from sync to EOF → CBR-estimate bits = 1632
    def exact(frames: Long, spf: Long, rate: Long): Long =
      frames * spf * 1000L / rate
    val cases = Seq(
      // V1 L3 44100 stereo, Xing: exact dur, avg kbps = 1632/dur
      (1L, mp3vbr(3, 9, 0, 0, "Xing", 10L),
        (true, (1632L / exact(10, 1152, 44100)).toInt, exact(10, 1152, 44100))),
      // Info = CBR encoder tag: exact frames, NOT vbr, header kbps kept
      (2L, mp3vbr(2, 3, 1, 3, "Info", 20L),
        (false, 24, exact(20, 576, 24000))),
      // VBRI (fixed offset), behind an ID3 envelope: off-relative reads
      (3L, mp3vbr(3, 9, 0, 0, "VBRI", 50L, id3Size = 60),
        (true, (1632L / exact(50, 1152, 44100)).toInt, exact(50, 1152, 44100))),
      // Xing without the FRAMES flag: vbr, but with no exact duration the
      // CBR estimate + the header's own bitrate stand
      (4L, mp3vbr(3, 9, 0, 0, "Xing", 10L, flags = 0L),
        (true, 128, 1632L / 128L)),
      // CRC-protected frame: Xing sits 2 bytes later (after the CRC-16)
      (5L, mp3vbr(3, 9, 0, 0, "Xing", 10L, crc = true),
        (true, (1632L / exact(10, 1152, 44100)).toInt, exact(10, 1152, 44100))),
      // frames = 0 (corrupt/placeholder header): vbr, but never a 0 ms
      // duration — the CBR estimate + header bitrate stand
      (6L, mp3vbr(3, 9, 0, 0, "Xing", 0L),
        (true, 128, 1632L / 128L)))
    val df = cases.map { case (id, b, _) => (id, b) }.toDF("doc_id", "payload")
    val got = Multimodal.audioMeta(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    cases.foreach { case (id, _, (vbr, kbps, ms)) =>
      val r = got(id)
      assert(r.getAs[String]("audio_format") == "mp3", s"doc $id: $r")
      assert(r.getAs[Boolean]("audio_vbr") == vbr, s"doc $id vbr: $r")
      assert(r.getAs[Int]("audio_bitrate_kbps") == kbps, s"doc $id kbps: $r")
      assert(r.getAs[Long]("audio_duration_ms") == ms, s"doc $id ms: $r")
    }
    // truncated mid-Xing (cut before the frame-count field): length guard
    // rejects the header, CBR estimate over the truncated bytes — but the
    // readable tag magic still classifies the stream as VBR; truncated
    // VBRI gets the identical treatment (consistent policy)
    for (tag <- Seq("Xing", "VBRI")) {
      val full = mp3vbr(3, 9, 0, 0, tag, 10L)
      val cut = full.take(4 + 32 + 6)
      val tr = Multimodal.audioMeta(Seq((9L, cut)).toDF("doc_id", "payload"))
        .collect().head
      assert(tr.getAs[Long]("audio_duration_ms") == cut.length * 8L / 128L &&
        tr.getAs[Boolean]("audio_vbr"), s"$tag: $tr")
    }
  }

  test("multimodal exifOrientation: TIFF IFD walk, both byte orders") {
    import graft.ops.Multimodal
    def u16(v: Int, le: Boolean): Array[Byte] =
      if (le) Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
      else Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
    def u32(v: Int, le: Boolean): Array[Byte] =
      if (le) u16(v & 0xFFFF, le = true) ++ u16(v >>> 16, le = true)
      else u16(v >>> 16, le = false) ++ u16(v & 0xFFFF, le = false)
    def jpeg(le: Boolean, orientation: Int, withTag: Boolean = true,
        xmpFirst: Boolean = false, ffFill: Boolean = false,
        longType: Boolean = false): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0xFF, 0xD8).map(_.toByte)) // SOI
      if (ffFill) out.write(0xFF) // JPEG B.1.1.2 fill byte before a marker
      if (xmpFirst) { // non-Exif APP1 the walk must skip by length
        val body = "http://ns.adobe.com/xap/1.0/".getBytes("US-ASCII")
        out.write(Array(0xFF, 0xE1).map(_.toByte))
        out.write(u16(2 + body.length, le = false)); out.write(body)
      }
      val tiff = new java.io.ByteArrayOutputStream()
      tiff.write((if (le) "II" else "MM").getBytes("US-ASCII"))
      tiff.write(u16(42, le)); tiff.write(u32(8, le)) // IFD0 at base+8
      tiff.write(u16(2, le)) // two entries
      // entry 1: Make (0x010F), ASCII, inline "abc\0"
      tiff.write(u16(0x010F, le)); tiff.write(u16(2, le))
      tiff.write(u32(4, le))
      tiff.write("abc".getBytes("US-ASCII") ++ Array[Byte](0))
      // entry 2: Orientation (or an unrelated tag when withTag = false)
      tiff.write(u16(if (withTag) 0x0112 else 0x0131, le))
      tiff.write(u16(if (longType) 4 else 3, le)); tiff.write(u32(1, le))
      if (longType) tiff.write(u32(orientation, le))
      else { tiff.write(u16(orientation, le)); tiff.write(u16(0, le)) }
      tiff.write(u32(0, le)) // next-IFD pointer
      val exif = "Exif".getBytes("US-ASCII") ++ Array[Byte](0, 0) ++
        tiff.toByteArray
      out.write(Array(0xFF, 0xE1).map(_.toByte))
      out.write(u16(2 + exif.length, le = false)); out.write(exif)
      out.write(Array(0xFF, 0xD9).map(_.toByte)) // EOI
      out.toByteArray
    }
    val df = Seq(
      (1L, jpeg(le = true, 6)),
      (2L, jpeg(le = false, 8)),
      (3L, jpeg(le = true, 3, xmpFirst = true)),
      (4L, jpeg(le = false, 1, withTag = false)), // tag absent → null
      (5L, Array(0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte)), // no APP1 → null
      (6L, Array.fill[Byte](20)(0x42)), // junk → null
      (7L, jpeg(le = true, 99)), // out-of-range value → null
      (8L, jpeg(le = false, 7, ffFill = true)), // FF fill before a marker
      (10L, jpeg(le = false, 6, longType = true)), // LONG-typed tag (BE)
      (11L, jpeg(le = true, 2, longType = true))) // LONG-typed tag (LE)
      .toDF("doc_id", "payload")
    val got = Multimodal.exifOrientation(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (if (r.isNullAt(r.fieldIndex("img_orientation"))) None
         else Some(r.getAs[Int]("img_orientation")))).toMap
    assert(got == Map(1L -> Some(6), 2L -> Some(8), 3L -> Some(3),
      4L -> None, 5L -> None, 6L -> None, 7L -> None,
      8L -> Some(7), 10L -> Some(6), 11L -> Some(2)), got.toString)
    // truncated mid-TIFF: no error, null
    val cut = jpeg(le = false, 5).dropRight(30)
    val tr = Multimodal.exifOrientation(Seq((9L, cut)).toDF("doc_id", "payload"))
      .collect().head
    assert(tr.isNullAt(tr.fieldIndex("img_orientation")), tr.toString)
    val plan = Multimodal.exifOrientation(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("tokenize chunking: stride windows with overlap, tail policy, shuffle-free plan") {
    import graft.ops.Tokenize
    val enc = Seq(
      (1L, (1 to 30).toArray),  // starts 0,12,24 → lens 16,16,6 (tail < minLen dropped)
      (2L, (1 to 16).toArray),  // second start's 4-id tail dropped → one chunk
      (3L, (1 to 7).toArray),   // whole doc below minLen → no rows
      (4L, Array.empty[Int])    // empty → filtered
    ).toDF("doc_id", "token_ids")
    val out = Tokenize.chunkForTraining(enc, "doc_id", seqLen = 16, overlap = 4, minLen = 8)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Int](2)).toMap
    assert(rows.keySet == Set((1L, 0), (1L, 1), (2L, 0)))
    assert(rows((1L, 0)) == (1 to 16))
    assert(rows((1L, 1)) == (13 to 28)) // stride 12: shares 4 ids with chunk 0
    assert(rows((1L, 1)).take(4) == rows((1L, 0)).takeRight(4))
    assert(rows((2L, 0)) == (1 to 16))
    // chunking is row-local: the plan has no Exchange at all
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)

    // contained-tail regression (minLen = 1): a 28-id doc has starts 0,12
    // ONLY — a third window at 24 would be fully inside chunk 1 (ids 13-28)
    // and emitting it would duplicate training tokens
    val r28 = Tokenize.chunkForTraining(
        Seq((9L, (1 to 28).toArray)).toDF("doc_id", "token_ids"),
        "doc_id", seqLen = 16, overlap = 4, minLen = 1)
      .collect().map(r => r.getInt(1) -> r.getSeq[Int](2)).toMap
    assert(r28.keySet == Set(0, 1))
    assert(r28(1) == (13 to 28))
    // a 30-id doc DOES get the third window (it carries new ids 29, 30)
    val r30 = Tokenize.chunkForTraining(
        Seq((9L, (1 to 30).toArray)).toDF("doc_id", "token_ids"),
        "doc_id", seqLen = 16, overlap = 4, minLen = 1)
      .collect().map(r => r.getInt(1) -> r.getSeq[Int](2)).toMap
    assert(r30.keySet == Set(0, 1, 2) && r30(2) == (25 to 30))
  }

  test("text stats: token counts, quality bounds, fingerprint stability") {
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "the  quick   brown fox jumps over the lazy dog"), // extra ws
      (3L, ""),
      (4L, "1234 5678 !!!")).toDF("doc_id", "text")
    val out = df.select($"doc_id",
      TextStats.tokenCountWs($"text").as("ws"),
      TextStats.tokenCountBpeIsh($"text").as("bpe"),
      TextStats.qualityScore($"text").as("q"),
      TextStats.fingerprint($"text").as("fp")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("ws") == 9)
    assert(out(3L).getAs[Int]("ws") == 0)
    // whitespace-insensitive fingerprint: rows 1 and 2 collide
    assert(out(1L).getAs[String]("fp") == out(2L).getAs[String]("fp"))
    out.values.foreach { r =>
      val q = r.getAs[Double]("q")
      assert(q >= 0.0 && q <= 1.0)
    }
    // noisy digits/punct doc scores below clean prose
    assert(out(4L).getAs[Double]("q") < out(1L).getAs[Double]("q"))
  }

  test("lang id: script heuristic separates fa/ar/latin/zh and empty") {
    val df = Seq(
      (1L, "hello world this is plain english text"),
      (2L, "سلام دنیا این یک متن فارسی است که پژوهش می‌کند"), // has پ/ژ
      (3L, "مرحبا بالعالم هذا نص عربي بسيط"),
      (4L, "你好世界这是中文文本"),
      (5L, "12345 !!!")).toDF("doc_id", "text")
    val out = df.select($"doc_id", TextStats.langIdByScript($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "latin")
    assert(out(2L) == "fa")
    assert(out(3L) == "ar")
    assert(out(4L) == "zh")
    assert(out(5L) == "unknown")
  }

  test("repetition signals: hand-computed line/word/3-gram fractions") {
    val df = Seq(
      // 4 non-blank lines (blank + padded lines normalized away), "same
      // line here" twice -> dup_line_frac = 1 - 3/4; 11 words, "same" x3
      // top -> top_word_frac = 3/11; 9 3-grams with "same line here"
      // twice -> dup_3gram_frac = 1 - 8/9
      (1L, "same line here\nother text\n\n  same line here  \nfinal bit same"),
      // all-distinct everything
      (2L, "alpha beta gamma delta"),
      // empty text: all three fractions 0, no division blowup
      (3L, ""),
      // heavy repetition: "spam spam spam spam" -> top_word_frac 1.0,
      // 2 3-grams both "spam spam spam" -> dup_3gram_frac 0.5
      (4L, "spam spam spam spam"))
      .toDF("doc_id", "text")
    val out = df.select($"doc_id", TextStats.repetitionSignals($"text").as("r"))
      .select($"doc_id", $"r.dup_line_frac", $"r.top_word_frac", $"r.dup_3gram_frac")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == ((0.25, 0.272727, 0.111111)))
    assert(out(2L) == ((0.0, 0.25, 0.0)))
    assert(out(3L) == ((0.0, 0.0, 0.0)))
    assert(out(4L) == ((0.0, 1.0, 0.5)))

    // NON-LATIN text must not be invisible to the gates (the \W+
    // regression: an ASCII word class tokenized Persian to zero words,
    // so a pure-repetition Persian doc sailed through Gopher thresholds
    // with top_word_frac = 0)
    val fa = Seq((1L, "تکرار تکرار تکرار تکرار")).toDF("doc_id", "text")
      .select(TextStats.repetitionSignals($"text").as("r"))
      .select($"r.top_word_frac", $"r.dup_3gram_frac")
      .collect().head
    assert(fa.getDouble(0) == 1.0 && fa.getDouble(1) == 0.5, fa)
    // and Persian exact near-dups are found by minhash (tokenize must
    // see Persian words — an empty shingle set silently excluded them)
    val faDocs = Seq(
      (1L, "این یک سند آزمایشی درباره مطالبه خسارت و رای دادگاه است"),
      (2L, "این یک سند آزمایشی درباره مطالبه خسارت و رای دادگاه است"),
      (3L, "متن کاملا متفاوت درباره اجاره ملک و تخلیه مسکونی")).toDF("doc_id", "text")
    val faPairs = Dedup.minhashLshPairs(faDocs, "text", "doc_id",
        numHashes = 16, bands = 8, jaccardThreshold = 0.9, shingleSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(faPairs == Set((1L, 2L)), s"Persian near-dup missed: $faPairs")
  }

  test("char-LM: MLE trigram probabilities, floor for unseen, short-doc nulls") {
    // train on one doc "abab": canon = "abab", trigrams aba, bab (1 each);
    // prefixes ab->1, ba->1 => P = 1/1 for both, logp = 0
    val train = Seq((0L, "abab")).toDF("doc_id", "text")
    val model = CharLm.train(train, "text")
    val m = model.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m.keySet == Set("aba", "bab"))
    assert(m.values.forall(v => math.abs(v) < 1e-12))

    val floor = math.log(1e-9)
    val score = CharLm.score(Seq(
        (1L, "abab"),    // all grams seen: avg_logp = 0, n_grams = 2
        (2L, "abzz"),    // grams abz, bzz both unseen: avg = floor
        (3L, "ab"),      // shorter than 3 chars: null avg, n_grams = 0
        (4L, "ababz")    // aba, bab seen (0), abz unseen (floor): avg = floor/3
      ).toDF("doc_id", "text"), model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)).map(_.asInstanceOf[Double]), r.getLong(2)))).toMap
    assert(score.keySet == Set(1L, 2L, 3L, 4L)) // every doc present
    assert(score(1L) == ((Some(0.0), 2L)))
    assert(score(2L)._1.get == math.rint(floor * 1e6) / 1e6 && score(2L)._2 == 2L)
    assert(score(3L) == ((None, 0L)))
    assert(math.abs(score(4L)._1.get - floor / 3) < 1e-6)
    // whitespace canonicalization: "a  b\tab" == "a b ab" grams
    val ws = CharLm.score(Seq((9L, "AB AB")).toDF("doc_id", "text"), model, "doc_id", "text")
      .collect().head
    assert(ws.getLong(2) == 3L) // "ab ab" -> "ab ", "b a", " ab"
  }

  test("per-source cap: smallest k ids per source survive; group-limit prunes pre-shuffle") {
    import graft.ops.Curation
    // hot source with 5000 docs, cold with 3; interleaved ids so the cap
    // must pick by ORDER, not by arrival
    val rows = (0L until 5000L).map(i => (i * 2, "hot")) ++
      Seq((1L, "cold"), (9001L, "cold"), (5L, "cold"))
    val docs = rows.toDF("doc_id", "source")
    val capped = Curation.capPerSource(docs, "source", "doc_id", k = 4)
    val kept = capped.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == Set((0L, "hot"), (2L, "hot"), (4L, "hot"), (6L, "hot"),
      (1L, "cold"), (5L, "cold"), (9001L, "cold")))
    // skew-tolerance evidence: the rank-limit pushdown's PARTIAL
    // WindowGroupLimit prunes each map partition to top-k per source
    // before the single exchange — a regression to a full per-source sort
    // (no Partial node, or a second exchange) fails here
    // AQE's toString appends the Initial Plan — scope asserts to the final
    val plan = capped.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial"), plan)
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
    // k = 1 keeps exactly the min id per source
    val k1 = Curation.capPerSource(docs, "source", "doc_id", k = 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(k1 == Set((0L, "hot"), (1L, "cold")))
  }

  test("mix: md5 unit draw matches reference digest; sampling/split deterministic and stable") {
    import graft.ops.Mix
    // reference draw for one (id, salt) computed with MessageDigest directly
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("42split".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 8)
    val expected = java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
    val got = Seq(42L).toDF("doc_id")
      .select(Mix.unitDraw($"doc_id", "split")).collect().head.getDouble(0)
    assert(got == expected)

    val docs = (0L until 2000L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val weights = Map("src0" -> 0.0, "src1" -> 1.0, "src2" -> 0.5)
    val kept = Mix.sampleBySource(docs, weights, "source", "doc_id",
      defaultWeight = 0.25)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bySrc = kept.groupBy(_._2).view.mapValues(_.size).toMap
    assert(!bySrc.contains("src0"))               // weight 0: nothing survives
    assert(bySrc("src1") == 500)                  // weight 1: everything survives
    assert(bySrc("src2") > 175 && bySrc("src2") < 325)   // ~250
    assert(bySrc("src3") > 75 && bySrc("src3") < 175)    // default 0.25 → ~125
    // deterministic: a second run selects the identical set
    val again = Mix.sampleBySource(docs, weights, "source", "doc_id",
      defaultWeight = 0.25).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet == again.toSet)

    val split = Mix.assignSplit(docs, "doc_id", valFrac = 0.1, testFrac = 0.2)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val counts = split.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("val") > 140 && counts("val") < 260)    // ~200
    assert(counts("test") > 320 && counts("test") < 480)  // ~400
    assert(counts("train") > 1300)
    // stability under growth: labels of the first 500 ids are unchanged
    // when the corpus doubles (the property rand()/sample() cannot give)
    val grown = Mix.assignSplit(
      (0L until 4000L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source"),
      "doc_id", valFrac = 0.1, testFrac = 0.2)
      .filter($"doc_id" < 500).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert((0L until 500L).forall(i => grown(i) == split(i)))
  }

  test("pii scrub: emails/ips/phones redact in order; near-misses untouched") {
    import graft.ops.Pii
    val df = Seq(
      (1L, "write a.b+c@sub.example.org or x@y.io today"),   // 2 emails
      (2L, "server 10.0.255.1 and 192.168.1.77 up"),         // 2 ips
      (3L, "call +1-202-555-0173 now"),                      // 1 phone
      (4L, "version 1.2.3 of lib, build 10.5, id 555-0100"), // near-misses: none
      (5L, "mix bob@corp.net at 8.8.8.8 tel +49-30-1234567") // one of each
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id",
      Pii.redact($"text").as("r"), Pii.piiCounts($"text").as("c"))
      .select($"doc_id", $"r", $"c.n_emails", $"c.n_ips", $"c.n_phones")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(out(1L) == (("write [EMAIL] or [EMAIL] today", 2, 0, 0)))
    assert(out(2L) == (("server [IP] and [IP] up", 0, 2, 0)))
    assert(out(3L) == (("call [PHONE] now", 0, 0, 1)))
    // 1.2.3 (three octets), 10.5, bare 555-0100: no redaction
    assert(out(4L) == (("version 1.2.3 of lib, build 10.5, id 555-0100", 0, 0, 0)))
    assert(out(5L) == (("mix [EMAIL] at [IP] tel [PHONE]", 1, 1, 1)))
    // all-numeric domain: not an email (no alpha TLD), so the IP pass
    // gets it — order is deterministic, not racy
    val tricky = Seq((9L, "u@1.2.3.44 stop")).toDF("doc_id", "text")
      .select(Pii.redact($"text")).collect().head.getString(0)
    assert(tricky == "u@[IP] stop")
  }

  test("decontamination: n-gram overlap flags, any-hit filter, short-doc immunity") {
    import graft.ops.Decontaminate
    val bench = Seq("The quick brown fox jumps").toDF("text") // one 5-gram
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contains the benchmark gram
      (2L, "a completely different doc with plenty of words here"), // 5 grams, 0 hits
      (3L, "too short"),                                   // < 5 words: 0 grams, immune
      (4L, "the quick brown fox leaps over and over again") // 4-word prefix only: clean
    ).toDF("doc_id", "text")
    val bg = Decontaminate.benchmarkGrams(bench, "text", n = 5)
    assert(bg.collect().map(_.getString(0)).toSet == Set("the quick brown fox jumps"))
    val stats = Decontaminate.contaminationStats(docs, bg, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(stats(1L) == ((5L, 1L, true)))
    assert(stats(2L) == ((5L, 0L, false)))
    assert(stats(3L) == ((0L, 0L, false)))
    assert(stats(4L) == ((5L, 0L, false)))
    val kept = Decontaminate.removeContaminated(docs, bench, "doc_id", "text", n = 5)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L))
    // minHits above the overlap keeps the doc
    val keptMin2 = Decontaminate.removeContaminated(docs, bench, "doc_id", "text",
      n = 5, minHits = 2L)
      .collect().map(_.getLong(0)).toSet
    assert(keptMin2 == Set(1L, 2L, 3L, 4L))

    // SHORT benchmark rows (< n words) are protected via full-row grams:
    // a 6-word answer appearing verbatim in a doc must flag it even at
    // the published n = 13, while a 3-word row stays ignored (a tri-gram
    // membership test would nuke the corpus)
    val shortBench = Seq(
      "paris is the capital of france", // 6 words < 13
      "yes it is"                       // 3 words < minShortLen: ignored
    ).toDF("text")
    val docs2 = Seq(
      (1L, "everyone knows paris is the capital of france since forever and a day extra words"),
      (2L, "a wholly unrelated answer yes it is claimed by some people here today now then")
    ).toDF("doc_id", "text")
    val kept2 = Decontaminate.removeContaminated(docs2, shortBench,
        "doc_id", "text", n = 13)
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(2L), s"short benchmark row unprotected: $kept2")
    // decontamination over non-Latin text works (the \W+ regression: an
    // ASCII-only word class tokenizes Persian to nothing and the gate
    // silently passes everything)
    val faBench = Seq("مطالبه خسارت تاخیر تادیه از صندوق").toDF("text") // 6 words
    val faDocs = Seq(
      (1L, "در این پرونده مطالبه خسارت تاخیر تادیه از صندوق مطرح شده است و رای صادر گردید"),
      (2L, "موضوع دیگری درباره اجاره و تخلیه ملک مسکونی بدون ارتباط با آن متن قبلی")
    ).toDF("doc_id", "text")
    val faKept = Decontaminate.removeContaminated(faDocs, faBench,
        "doc_id", "text", n = 13)
      .collect().map(_.getLong(0)).toSet
    assert(faKept == Set(2L), s"Persian decontamination inert: $faKept")
  }

  test("wordNgrams: n = 2 and n = 4 windows, exact boundary, sub-n empty") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    def grams(n: Int): Seq[String] = df.select(
      graft.ops.TextStats.wordNgrams(
        filter(split(lower(col("text")), "\\W+"), w => length(w) > 0), n).as("g"))
      .collect().head.getSeq[String](0)
    assert(grams(2) == Seq("a b", "b c", "c d"))
    assert(grams(3) == Seq("a b c", "b c d"))
    assert(grams(4) == Seq("a b c d")) // exact boundary: one window
    assert(grams(5) == Seq.empty)      // shorter than n
  }

  test("cluster assign: transitive chains collapse to the smallest id") {
    // a-b, b-c form one cluster (a,c never paired directly); d-e another
    val pairs = Seq((10L, 20L), (20L, 30L), (40L, 50L)).toDF("id_a", "id_b")
    val labels = graft.ops.Dedup.clusterAssign(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 40L, 50L -> 40L))

    val docs = Seq(10L, 20L, 30L, 40L, 50L, 99L).toDF("doc_id")
    val kept = graft.ops.Dedup.keepClusterRepresentatives(docs, pairs, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 40L, 99L)) // reps + the unpaired doc
  }

  test("cuckoo-combiner outlink dedup does not lose distinct priorities") {
    // same link with two priorities in one partition must both survive the
    // local combiner (exact min-priority dedup happens in the schedule window)
    val links = Seq(("https://h.ir/a", 5.0), ("https://h.ir/a", 5.0),
      ("https://h.ir/a", 2.0)).toDF("url", "priority").coalesce(1)
    val out = graft.frontier.FrontierRound.toFrontier(spark, links, 1).collect()
    assert(out.length == 3) // toFrontier itself doesn't dedup
  }
}
