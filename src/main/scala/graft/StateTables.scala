package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** The one writer of committed state: the pipeline's stage tables
  * (`Pipeline.stage`), the merged stage views an incremental attach or
  * detach commits (`Incremental.commitAsBase`), the near-dup dedup state
  * (`Dedup.commitDedupState`) and CC's durable loop cuts.
  *
  * Parquet with zstd, not Spark's snappy default: the state is mostly url,
  * surface and context strings, which snappy barely compresses, and every
  * attach and detach scans it. The codec is fixed here rather than taken
  * from a session conf, so it holds in any session that calls the product.
  */
object StateTables {

  def write(df: DataFrame, path: String, mode: String): Unit =
    df.write.mode(mode).option("compression", "zstd").parquet(path)

  /** Bytes of the data files behind a table read back from parquet, from
    * its file index and the file system's lengths — no Spark job runs. */
  def dataBytes(table: DataFrame): Long = {
    val conf = table.sparkSession.sparkContext.hadoopConfiguration
    table.inputFiles.iterator.map { f =>
      val p = new Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
  }
}
