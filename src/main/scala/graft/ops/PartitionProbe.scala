package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.util.Try

/** Partition-pruned reads of a `partitionBy(key)` Parquet table whose probe
  * knows its key values on the driver (the BM25 index's `tb` buckets, the
  * IVF layout's `cid` lists), and Parquet reads that pass the schema their
  * writer stored instead of inferring it.
  */
private[ops] object PartitionProbe {

  /** The `key=<v>` directories of `root` for the probed `values`, found by
    * one driver-side `listStatus` of `root` and read with `basePath` = root,
    * so `key` stays a partition column. Reading the root instead lists every
    * partition directory, and above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) that
    * listing is a Spark job with one task per directory, paid by every
    * probe before it reads a byte. Here Spark lists only the probed
    * directories (on the driver up to the threshold), and the read passes
    * the data schema of the first of them ([[footerSchema]]).
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
      val read = if (probed.nonEmpty) probed else dirs.take(1)
      footerSchema(spark, read.head).fold(spark.read)(spark.read.schema)
        .option("basePath", root)
        .parquet(read.map(_.toString): _*)
    }
  }

  /** `spark.read.parquet(dir)` with the schema of [[footerSchema]]. */
  def readParquet(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, new Path(dir)).fold(spark.read)(spark.read.schema)
      .parquet(dir)

  /** The schema Spark's writer stored in the footer of `dir`'s first data
    * file, read on the driver: Spark's own inference (without schema
    * merging) reads that footer inside a one-task job per read. None (left
    * to inference) without a data file or Spark's schema in its footer.
    */
  private def footerSchema(spark: SparkSession, dir: Path): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dir.getFileSystem(conf).listStatus(dir)
      .filter(st => st.isFile && !"_.".contains(st.getPath.getName.head))
      .minByOption(_.getPath.getName)
      .flatMap { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try Option(reader.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally reader.close()
      }
      .flatMap(json => Try(DataType.fromJson(json).asInstanceOf[StructType]).toOption)
  }
}
