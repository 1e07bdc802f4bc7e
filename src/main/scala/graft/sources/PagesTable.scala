package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed pages table (SURVEY.md §7 / NOTES_r1 §3): persist the
  * Common-Crawl-style pages table `bucketBy(url)` so the fetch join never
  * shuffles the pages side. The fetch join is `schedule LEFT JOIN pages`,
  * and a left join can build only its right side: the schedule is never
  * the broadcast side. Below the broadcast threshold Catalyst broadcasts
  * the pages table itself (url, html) every round; above it a plain join
  * would shuffle BOTH sides — hundreds of TB of page bodies through the
  * wire. Bucketing pins the pages-side partitioning at write time: under a
  * sort-merge join (`PolitenessConfig.fetchJoinHint = Some("merge")`, or a
  * pages table over the threshold) only the (tiny) schedule side
  * exchanges, to the bucket count.
  *
  * This is the parquet-bucketed stand-in for the Iceberg
  * bucket-partitioned table the north rule names (no Iceberg runtime jar
  * exists in this sandbox); `bind` re-attaches the table in a fresh session
  * via external DDL, the cross-job equivalent of an Iceberg catalog load.
  */
object PagesTable {

  /** One-time bucketed write (an Exchange on url, paid once, amortized over
    * every subsequent round's fetch join).
    */
  def writeBucketed(spark: SparkSession, pages: DataFrame, name: String,
      path: String, buckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    pages.write.mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(buckets, "url")
      .sortBy("url")
      .saveAsTable(name)
  }

  /** Re-attach an existing bucketed table in a fresh session (external DDL
    * carries the bucket spec, so the new session's planner still elides the
    * pages-side exchange). Schema must match the written table.
    */
  def bind(spark: SparkSession, name: String, path: String, buckets: Int,
      schemaDdl: String = "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      : DataFrame = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(
      s"""CREATE TABLE $name ($schemaDdl)
         |USING parquet
         |CLUSTERED BY (url) SORTED BY (url) INTO $buckets BUCKETS
         |LOCATION '$path'""".stripMargin)
    spark.table(name)
  }
}
