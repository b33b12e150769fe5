package graft.io

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Scale-adaptive scan fan-out for COMPUTE-HEAVY stages rooted at a file
  * scan (guide §2: derive partitioning from input size, never a constant
  * tuned for one deployment).
  *
  * Spark sizes scan tasks by bytes (`files.maxPartitionBytes`, with the
  * `openCostInBytes` floor), which is the right model when the work per
  * row is scan-shaped. It is the wrong model for operators whose per-row
  * DERIVED work dwarfs the scan — distance kernels over embedding
  * vectors, tokenize+explode passes, multi-distinct aggregations: a small
  * single-row-group parquet table (one file, one split — a single-file
  * table cannot split below a row group) pins the whole downstream stage
  * to ONE task regardless of core count. The r15 JobProf showed exactly
  * that: 700 ms single-task cosine jobs in ann_frontier and a 3.9 s
  * 3-task multi-distinct aggregate in a_table_stats, on a 32-core
  * session.
  *
  * The fan-out is guarded so it VANISHES at scale: it fires only when the
  * scan's estimated split count (input files, and their bytes against
  * maxPartitionBytes) is below the session's core count. A 100 TB table
  * has thousands of files/splits, so the guard keeps the extra exchange
  * out of the plan exactly where it would be a full-corpus shuffle; the
  * tiny-corpus case pays one exchange of a few MB to engage every core.
  * Round-robin repartition keeps results partitioning-independent (all
  * downstream surfaces are exact aggregations / totally-ordered windows,
  * and Spark's sort-before-repartition keeps the assignment deterministic
  * under retries). */
object FanOut {
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.isEmpty || files.length >= cores) return df
    // few files: large ones still split by maxPartitionBytes — estimate
    // the split count before concluding the scan is narrow (≤ cores
    // getFileStatus round trips, only on the already-small side)
    val maxSplit = math.max(1L,
      spark.sessionState.conf.filesMaxPartitionBytes)
    val hconf = spark.sparkContext.hadoopConfiguration
    // an unreadable status leaves the scan as planned: guessing 0 bytes
    // would turn an I/O fault into a fan-out decision
    val totalBytes =
      try files.map { f =>
        val p = new Path(f)
        p.getFileSystem(hconf).getFileStatus(p).getLen
      }.sum
      catch { case NonFatal(_) => return df }
    val splits = math.max(files.length.toLong,
      (totalBytes + maxSplit - 1) / maxSplit)
    if (splits >= cores) df else df.repartition(cores)
  }
}
