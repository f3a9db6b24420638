package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet directories — the operational fix
  * for THE chronic 100 TB ingest problem: a streaming/incremental
  * writer leaves thousands of KB-sized files per partition, and every
  * subsequent scan pays a task per file plus a footer read per task.
  *
  * `compactParquet` rewrites a directory to ceil(totalBytes /
  * targetBytes) files and swaps it in with
  * [[CsvMeta.renameOverFallback]] (write to `.compact-tmp`, set the old
  * directory aside to `.bak`, rename the new one in, delete the old —
  * the K5 tmp+rename discipline at directory granularity). Readers
  * never see a mix of old and new files.
  *
  * The rewrite uses `coalesce` when shrinking the file count (no
  * shuffle — each output task concatenates whole input files) and
  * `repartition` only when the directory is so skewed that growing the
  * count is requested.
  */
object Compaction {

  /** Compact `dir` to ~`targetBytes` per file. Returns the output file
    * count.
    */
  def compactParquet(spark: SparkSession, dir: String,
                     targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(path)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val totalBytes = dataFiles.map(_.getLen).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(dir)
    val sized =
      if (n <= dataFiles.length) df.coalesce(n) // no shuffle: concat files
      else df.repartition(n)
    val tmp = new Path(dir + ".compact-tmp")
    sized.write.mode("overwrite").parquet(tmp.toString)
    CsvMeta.renameOverFallback(fs, tmp, path)
    n
  }
}
