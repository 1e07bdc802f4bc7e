package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Partition-pruned reads of a `partitionBy(key)` Parquet table whose probe
  * knows its key values on the driver (the BM25 index's `tb` buckets, the
  * IVF layout's `cid` lists).
  */
private[ops] object PartitionProbe {

  /** The `key=<v>` directories of `root` for the probed `values`, found by
    * one driver-side `listStatus` of `root` and read with `basePath` = root,
    * so `key` stays a partition column. Reading the root instead lists every
    * partition directory, and above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) that
    * listing is a Spark job with one task per directory, paid by every
    * probe before it reads a byte. Here Spark lists only the probed
    * directories (on the driver up to the threshold).
    *
    * The caller keeps its `key isin(values)` filter, so the scan still
    * carries PartitionFilters on `key`. When no probed value has a
    * directory, one existing partition directory is read and that filter
    * leaves zero rows; a root with no partition directory at all (a table
    * written from zero rows) is read as it is.
    */
  def read(spark: SparkSession, root: String, key: String,
      values: Seq[Any]): DataFrame = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(rootPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$key="))
      .map(_.getPath)
    if (dirs.isEmpty) spark.read.parquet(root)
    else {
      val wanted = values.map(v => s"$key=$v").toSet
      val probed = dirs.filter(d => wanted(d.getName))
      spark.read.option("basePath", root)
        .parquet((if (probed.nonEmpty) probed else dirs.take(1)).map(_.toString): _*)
    }
  }
}
