package graft.warehouse

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet table directories.
  *
  * Streaming sinks and frequent small batch writes leave thousands of
  * KB-scale files per table; at 100 TB the scan's task-scheduling and
  * footer-read overhead then dominates IO. Compaction rewrites a
  * directory into ~`targetBytes` files.
  *
  * Default is `coalesce` (narrow — merges existing partitions with NO
  * shuffle; the right choice when files are uniformly small). Pass
  * `shuffle = true` for `repartition` when input sizes are badly skewed
  * and balanced outputs matter more than the shuffle cost.
  *
  * Scope: FLAT table directories (one level of data files). Partitioned
  * layouts (`day=.../part-*.parquet`) are rejected — compacting them
  * here would flatten the partitioning and delete sidecar dirs; compact
  * each partition directory individually instead.
  *
  * The rewrite goes to a sibling temp dir, then swaps in two checked
  * moves ([[Commit.move]]; the fault point `Compaction.mid-swap` sits
  * between them).
  * This is an OFFLINE maintenance operation: between the renames the
  * path briefly does not exist, and a reader planning in that window
  * fails (and one that listed before the swap reads deleted files).
  * Run it in a low-traffic window, or layer a transactional table
  * format when concurrent readers/writers must survive compaction. A
  * crash between the renames leaves the data intact at
  * `<dir>.graft-compact-old` — rename it back to recover.
  */
object Compaction {

  /** Sum of data-file lengths directly under `dir` (ignores dotfiles and
    * _SUCCESS markers). */
  def dataBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isFile)
      .filterNot(f => f.getPath.getName.startsWith("_")
        || f.getPath.getName.startsWith("."))
      .map(_.getLen).sum
  }

  /** Number of output files for `targetBytes`-sized compaction. */
  def plannedFiles(totalBytes: Long, targetBytes: Long): Int =
    math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)

  /** Compact `dir` in place to ~`targetBytes` files. Returns the output
    * file count. */
  def compact(spark: SparkSession, dir: String, targetBytes: Long,
              shuffle: Boolean = false): Int = {
    val root = new Path(dir)
    val rootFs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val subdirs = rootFs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName)
    require(subdirs.isEmpty,
      s"compact() works on flat table directories; '$dir' contains " +
        s"subdirectories (${subdirs.take(3).mkString(", ")}…) — a " +
        "partitioned/sidecar layout would be flattened and its metadata " +
        "lost. Compact each partition directory individually.")
    val n = plannedFiles(dataBytes(spark, dir), targetBytes)
    val df = spark.read.parquet(dir)
    val out = if (shuffle) df.repartition(n) else df.coalesce(n)
    val tmp = dir.stripSuffix("/") + ".graft-compact-tmp"
    out.write.mode("overwrite").parquet(tmp)

    val old = new Path(dir.stripSuffix("/") + ".graft-compact-old")
    Commit.move(rootFs, root, old)
    Commit.fault("Compaction.mid-swap")
    Commit.move(rootFs, new Path(tmp), root)
    Commit.delete(rootFs, old)
    n
  }
}
