package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.Ingest

/** Snapshot maintenance operators: table diff (what changed between two
  * snapshots of the same logical table) and small-file compaction (rewrite
  * a directory of too-many-files into right-sized ones, provably content-
  * preserving). Both are warehouse-operations primitives a 100 TB pipeline
  * runs daily: diff feeds CDC/audit, compaction keeps scan task counts sane
  * after streaming or fine-grained-partitioned writes.
  */
object Snapshot {

  /** Row-level diff of two snapshots keyed by `keyCols`: one output row per
    * inserted / deleted / changed key, with the sorted list of columns whose
    * values differ (null-safe comparison, so NULL→value and value→NULL count
    * as changes). Unchanged rows are dropped BEFORE the projection widens,
    * so the operator's output is proportional to the churn, not the table.
    *
    * Schema contract: the OLD snapshot's columns are the diff surface —
    * compared columns are `oldDf`'s non-key columns intersected with
    * `newDf`'s. A column that exists only in the new snapshot is NOT
    * compared: rows differing only there classify as unchanged and are
    * dropped (and a column dropped in the new snapshot likewise vanishes
    * from the diff). This is deliberate — after a schema evolution the
    * old snapshot simply has no value to diff against, and inventing a
    * NULL on the missing side would mark EVERY row changed. To audit an
    * added column, diff it forward next cycle (when both snapshots carry
    * it) or project it explicitly into both inputs first.
    *
    * Plan shape: one full outer join shuffling both sides on the key —
    * the minimum possible for a diff (every key must meet its twin) — and
    * the change classification is a flat codegen'd projection on top. At
    * scale both snapshots usually share a layout (same bucketing/partition
    * scheme), which turns the exchange into a co-located join.
    */
  def diff(oldDf: DataFrame, newDf: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diff needs at least one key column")
    val compareCols = oldDf.columns.filterNot(keyCols.contains).toSeq
      .intersect(newDf.columns.toSeq).sorted
    val o = oldDf.select((keyCols ++ compareCols).map(col): _*).alias("o")
    val n = newDf.select((keyCols ++ compareCols).map(col): _*).alias("n")
    val keyEq = keyCols.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _)
    val joined = o.join(n, keyEq, "full_outer")
    // Presence is decided by the key columns (never NULL in a real row).
    val inOld = keyCols.map(k => col(s"o.$k").isNotNull).reduce(_ && _)
    val inNew = keyCols.map(k => col(s"n.$k").isNotNull).reduce(_ && _)
    val changed: Column = {
      val names = compareCols.map { c =>
        when(!(col(s"o.$c") <=> col(s"n.$c")), lit(c)) }
      // array_compact drops the NULL slots of unchanged columns; names were
      // pre-sorted so the array is deterministic without a sort per row.
      array_compact(array(names: _*))
    }
    val keyOut = keyCols.map(k => coalesce(col(s"n.$k"), col(s"o.$k")).as(k))
    joined.select(keyOut ++ Seq(
        when(!inOld, lit("insert"))
          .when(!inNew, lit("delete"))
          .otherwise(lit("update")).as("change_type"),
        when(inOld && inNew, changed).otherwise(lit(null)).as("changed_cols")): _*)
      .filter(col("change_type") =!= "update" || size(col("changed_cols")) > 0)
  }

  /** Compact a parquet directory into ~`targetBytes`-sized files: list the
    * current files (driver-side METADATA only — never row data), size the
    * output file count from the actual byte total, and rewrite. Returns the
    * compacted DataFrame reader; the caller proves content preservation
    * with [[DataQuality.tableChecksum]] (order-independent, so the rewrite
    * is free to rebalance rows arbitrarily).
    *
    * At cluster scale this is the nightly "small files" job: a streaming
    * sink or over-partitioned write leaves 10⁵ tiny files whose per-task
    * overhead dominates; one repartition pass restores ~targetBytes splits.
    * `repartition` (round-robin) rather than `coalesce`: coalesce merges
    * co-located partitions without a shuffle but inherits any input skew,
    * and a compaction job's whole point is evenly-sized output files.
    */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetBytes: Long = 128L << 20): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(path).filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    Ingest.readParquet(spark, inDir).repartition(nFiles)
      .write.mode("overwrite").parquet(outDir)
    Ingest.readParquet(spark, outDir)
  }

  /** Number of data files currently backing a parquet directory. */
  def fileCount(spark: SparkSession, dir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
  }
}
