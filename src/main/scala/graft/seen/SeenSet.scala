package graft.seen

import graft.model.FrontierEntry
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** SQL-registrable cuckoo seen-set aggregate (SURVEY.md §2.10): folds a
  * column of url_key strings into one serialized CuckooFilter. Merge is the
  * filter's own mergeFrom (associative & commutative up to slot placement;
  * membership — the only observable — is preserved, which the spec
  * asserts). Overflow past capacity degrades to stash entries, never to a
  * false negative, so "spill to exact" stays a pure performance decision
  * for the caller (more maybe-seen rows take the exact anti-join).
  */
final class CuckooSeenAggregator(expectedItems: Long)
    extends Aggregator[String, CuckooFilter, Array[Byte]] {
  def zero: CuckooFilter = CuckooFilter.create(expectedItems)
  def reduce(f: CuckooFilter, key: String): CuckooFilter = {
    if (key != null) f.insert(key)
    f
  }
  def merge(a: CuckooFilter, b: CuckooFilter): CuckooFilter = { a.mergeFrom(b); a }
  def finish(f: CuckooFilter): Array[Byte] = f.serialize()
  def bufferEncoder: Encoder[CuckooFilter] = Encoders.javaSerialization[CuckooFilter]
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

/** The seen set's bucket-aligned cuckoo probe — the 10^10-key scale path
  * in front of the exact anti-join: one 1%-fpp Bloom over 10^10 keys is
  * ~12 GB (unbroadcastable), but B bucket-aligned cuckoo filters of
  * 10^10/B keys each are built as ONE distributed aggregation (the
  * CuckooSeenAggregator above) and each executor only ever probes the
  * buckets of the candidates it holds.
  */
object SeenSet extends Serializable {

  /** Deterministic bucket of a url_key (same function driver- and
    * executor-side — NOT Spark's xxhash64, which is not callable from plain
    * JVM code).
    *
    * Derived from the HIGH half of the same 64-bit hash the cuckoo filter
    * consumes: the filter's bucketIndex uses the LOW bits (h & (nb-1)), so
    * taking the Spark bucket from the low bits as well would fix them per
    * bucket and leave only numBuckets/buckets primary cuckoo buckets
    * reachable inside each filter — kick-loop failures and O(n) stash
    * growth far below nominal capacity. rotateRight(h, 32) makes the two
    * bucket choices independent (fingerprint uses bits 48-63; with 16-bit
    * filter indexes the three draws stay disjoint up to 2^16 buckets).
    */
  def bucketOf(key: String, buckets: Int): Int =
    Math.floorMod(java.lang.Long.rotateRight(CuckooFilter.hash64(key), 32),
      buckets.toLong).toInt

  /** Per-bucket filters as a DISTRIBUTED (bucket, filter) frame — one
    * groupBy aggregation whose output never touches the driver. This is the
    * 10^10-key shape: at 64 buckets × 10^10/64 keys the serialized filters
    * total tens of GB, which stay as 64 rows spread over executors (and, on
    * a real deployment, persist as a table bucketed by `bucket` so
    * successive rounds probe without rebuilding).
    */
  def bucketFiltersDF(seenKeys: DataFrame, buckets: Int,
      expectedPerBucket: Long): DataFrame = {
    val agg = udaf(new CuckooSeenAggregator(expectedPerBucket))
    val bucketUdf = udf((k: String) => bucketOf(k, buckets))
    seenKeys
      .groupBy(bucketUdf(col("url_key")).as("bucket"))
      .agg(agg(col("url_key")).as("filter"))
  }

  /** Driver-side map of the per-bucket filters — ONLY for specs and
    * small-mode probes (the collect here is exactly what the scale path
    * must avoid; see notSeenCuckooBucketed).
    */
  def buildBucketFilters(seenKeys: DataFrame, buckets: Int,
      expectedPerBucket: Long): Map[Int, Array[Byte]] =
    bucketFiltersDF(seenKeys, buckets, expectedPerBucket)
      .collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1))
      .toMap

  /** Bucket-LOCAL cuckoo prefilter with no driver materialization — the
    * scale path: candidates and filters are cogrouped on the bucket key, so
    * each task deserializes ONLY its buckets' filters (once per bucket, not
    * per row — evidenced by `deserCounter`) and probes its candidates
    * against them. Filter bytes move executor→executor through one
    * exchange keyed on bucket; nothing is collected or broadcast. Probe
    * verdicts never drop a row: "definitely new" skips the shuffle, "maybe
    * seen" takes the exact left-anti join — no approximate DROP decisions,
    * ever.
    *
    * The flagged frame is localCheckpoint-ed (eager) because both branches
    * consume it: without materialization each branch would recompute the
    * full aggregation + cogroup. Per-round candidate sets are the outlink
    * frontier — bounded and tiny next to the corpus.
    */
  def notSeenCuckooBucketed(
      spark: SparkSession,
      candidates: Dataset[FrontierEntry],
      seenKeys: DataFrame, // single column url_key
      buckets: Int = 64,
      expectedPerBucket: Long = 1L << 16,
      deserCounter: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[FrontierEntry] = {
    import spark.implicits._
    val filters = bucketFiltersDF(seenKeys, buckets, expectedPerBucket)
      .as[(Int, Array[Byte])]
    val candByBucket = candidates.groupByKey(e => bucketOf(e.url_key, buckets))
    val filtByBucket = filters.groupByKey(_._1)
    val flagged = candByBucket.cogroup(filtByBucket) { (_, cands, filts) =>
      val f = filts.map { t =>
        deserCounter.foreach(_.add(1L))
        CuckooFilter.deserialize(t._2)
      }.reduceOption { (a, x) => a.mergeFrom(x); a }
      f match {
        case None => cands.map(e => (e, false))
        case Some(cf) => cands.map(e => (e, cf.mightContain(e.url_key)))
      }
    }.localCheckpoint(true)
    val definitelyNew = flagged.filter(!_._2).map(_._1)
    val maybe = flagged.filter(_._2).map(_._1)
    definitelyNew.union(
      maybe.join(seenKeys.select(col("url_key")), Seq("url_key"), "left_anti")
        .as[FrontierEntry])
  }
}
