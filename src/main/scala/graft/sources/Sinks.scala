package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sink surface (S7-as-tables + the layouts a 100 TB deployment
  * needs): plain, date/key-partitioned, and bucketed writers.
  *
  * Layout policy at scale:
  *  - **Partition by** low-cardinality query-filter columns (date,
  *    region): partition pruning turns full scans into directory
  *    listings.
  *  - **Bucket by** high-cardinality join keys (orderkey, user_id):
  *    bucketed tables co-locate both join sides — the shuffle
  *    disappears from every subsequent join on the key.
  *  - Control file count explicitly (`repartition` before write):
  *    small-file storms are the #1 operational failure of naive
  *    partitioned writes.
  */
object Sinks {

  def writeParquet(df: DataFrame, path: String,
                   mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).parquet(path)

  private val MinRowsPerFile = 2048L
  private val TargetFileBytes = 128L << 20

  /** Index/memo artifact writer with scan-ready file sizing (guide
    * §6 + §2.5): a memo written with the build plan's natural
    * partitioning lands as 1-2 unsplittable row groups, so every
    * later scan — and the per-row compute directly above it — runs
    * 1-2 tasks. File count is sized from the WRITTEN artifact's real
    * row count and bytes (pre-write plan estimates are unusable: with
    * CBO off `optimizedPlan.stats` carries no `rowCount` for any memo
    * build plan, and its `sizeInBytes` read 2.4 TB for an 84 KB
    * kNN-graph truth memo and sized a 5 MB union+explode memo at
    * 33,009 files):
    *
    *   files = max( min(defaultParallelism, rows / MinRowsPerFile),
    *                bytes / TargetFileBytes )   (floor 1)
    *
    * The rows term gives a hot small artifact one split per core but
    * never slices below `MinRowsPerFile` (2,048 ≈ 1-2 MB of
    * dim-64 vectors ≈ the point where a task's scan+compute clears
    * its scheduling overhead — measured both directions at r15: an
    * unconditional 32-file layout cost the kilobyte prebuilt-search
    * memos +0.3-0.6 s/row in listing/footer/task overhead, while a
    * 1-file layout cost the 8.5k-row planted seed corpus ~1.4 s of
    * lost scan width). The bytes term takes over at scale:
    * terabyte artifacts get ~`TargetFileBytes` (128 MB) files
    * regardless of the core cap. The artifact is first written with
    * the build plan's own partitioning and kept when that gave from
    * `files` to `2 × files` files; only fewer (lost scan width) or
    * more (small-file overhead) are rewritten to exactly `files`. So a
    * memo whose build already lands near its target, such as an index
    * append that unions a 1-file memo with its 1-file batch, is
    * written once. Builds are rare and memoized, so the resize
    * rewrite is off the query path; the row count comes from parquet
    * footers (no data recompute). */
  def writeScanSized(df: DataFrame, path: String,
                     mode: SaveMode = SaveMode.Overwrite): Unit = {
    df.write.mode(mode).parquet(path)
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val back = spark.read.parquet(path)
    val rows = back.count() // parquet footer metadata, not a data scan
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(sc.hadoopConfiguration)
    val bytes = fs.getContentSummary(hp).getLength
    val files = math.max(1L, math.max(
      math.min(sc.defaultParallelism.toLong, rows / MinRowsPerFile),
      (bytes + TargetFileBytes - 1) / TargetFileBytes)).toInt
    val current = back.inputFiles.length
    if (current < files || current > 2 * files) {
      // resize via tmp + checked renames (the [[compact]] swap rule:
      // data always exists under SOME path; memo stamps are written
      // by callers AFTER this returns, so a crash mid-swap leaves a
      // stampless dir → rebuild, never a half-resized "fresh" memo)
      val tmp = new org.apache.hadoop.fs.Path(path + "_resize")
      if (fs.exists(tmp)) require(fs.delete(tmp, true), s"cannot clear $tmp")
      val resized =
        if (files < current) back.coalesce(files) else back.repartition(files)
      resized.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      require(fs.delete(hp, true), s"cannot remove $path for resize")
      require(fs.rename(tmp, hp), s"rename $tmp -> $path failed")
    }
  }

  /** Hive-style partitioned layout: `path/col=value/part-*.parquet`.
    * `filesPerPartition` bounds output files via a pre-shuffle on the
    * partition columns. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(partitionCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode(mode)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed managed table (bucket pruning + shuffle-free joins on
    * the bucket key for any two tables bucketed the same way). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  def writeCsv(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** ORC: the other columnar interchange format Spark ships natively
    * (vectorized reader, predicate pushdown, column pruning — same
    * scan discipline as parquet). */
  def writeOrc(df: DataFrame, path: String,
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** JSON-lines: the interchange format for event feeds; schema is
    * carried by the reader (`spark.read.schema(...).json`) at scale —
    * inference is a full extra pass. */
  def writeJson(df: DataFrame, path: String,
                mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** Z-order clustering key over two columns: each column is
    * quantized to a 16-bit rank against caller-supplied bounds, the
    * bits interleaved (Morton order). Sorting by this key before
    * writing gives every output file a bounded BOX in (c1, c2) space
    * — so min/max footer stats prune files for predicates on EITHER
    * column, where a plain sort only prunes its leading column. Pure
    * bit arithmetic on codegen'd built-ins; no UDF. */
  def zorderKey(c1: Column, c2: Column,
                lo1: Double, hi1: Double,
                lo2: Double, hi2: Double): Column = {
    require(hi1 > lo1 && hi2 > lo2,
      s"zorder bounds must be non-degenerate: [$lo1,$hi1] x [$lo2,$hi2]")
    def quant(c: Column, lo: Double, hi: Double): Column =
      least(greatest(
        ((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(65535.0))
          .cast("long"), lit(0L)), lit(65535L))
    // spread 16 bits to even positions (classic Morton spreading)
    def spread(c: Column): Column = {
      var x = c
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
      x = x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
      x
    }
    spread(quant(c1, lo1, hi1))
      .bitwiseOR(shiftleft(spread(quant(c2, lo2, hi2)), 1))
  }

  /** Small-files compaction — the table-maintenance op every
    * streaming/incremental sink eventually needs: rewrite a parquet
    * directory into ~targetBytes files. Uses the scan's own size
    * statistics (no driver file listing beyond what the scan does),
    * coalesce (no shuffle) when shrinking the file count. Returns the
    * file count after compaction.
    *
    * Durability contract: directory renames are not transactional on
    * Hadoop filesystems, so the swap has a reader-visible gap — for
    * an instant between the two renames `path` does not exist
    * (readers race a FileNotFoundException; coordinate compaction
    * with readers, or use a table format with a metadata pointer —
    * this operator is for plain-directory tables). Data is never
    * lost: a crash inside the window parks the original intact at
    * `path + "_old"`, and the next `compact` call on the same path
    * self-heals by restoring it before doing anything else. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = 128L << 20): Int = {
    recoverInterrupted(spark, path)
    val df = spark.read.parquet(path)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val files = math.max(1,
      (bytes / BigInt(targetBytes)).toInt + (if (bytes % targetBytes > 0) 1 else 0))
    val tmp = path + "_compacting"
    df.coalesce(files).write.mode(SaveMode.Overwrite).parquet(tmp)
    // Swap via rename-aside so the data always exists under SOME
    // path: old → *_old, new → path, then drop *_old. Every FS call
    // is checked — an unchecked false from rename would otherwise
    // report success while the table sat under a temp name.
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + "_old")
    if (fs.exists(old)) require(fs.delete(old, true), s"cannot clear $old")
    require(fs.rename(hp, old), s"rename $path -> $old failed")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), hp)) {
      fs.rename(old, hp) // restore; best effort before failing
      sys.error(s"rename $tmp -> $path failed; original restored")
    }
    require(fs.delete(old, true), s"compacted OK but cannot remove $old")
    files
  }

  /** Crash recovery for [[compact]]: if a previous run died between
    * its two renames, the table sits intact at `path + "_old"` with
    * nothing at `path` — put it back. Leftover `_compacting` output
    * is discarded (it may be partial; the original is authoritative).
    */
  private def recoverInterrupted(spark: org.apache.spark.sql.SparkSession,
                                 path: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + "_old")
    val tmp = new org.apache.hadoop.fs.Path(path + "_compacting")
    if (!fs.exists(hp) && fs.exists(old))
      require(fs.rename(old, hp), s"recovery rename $old -> $path failed")
    if (fs.exists(tmp)) require(fs.delete(tmp, true), s"cannot clear $tmp")
  }

  /** Write parquet range-partitioned + sorted by the Z-order key of
    * (c1, c2) — `repartitionByRange` gives disjoint key ranges per
    * file, i.e. disjoint spatial boxes. */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
                    lo1: Double, hi1: Double, lo2: Double, hi2: Double,
                    numFiles: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("_z", zorderKey(col(c1), col(c2), lo1, hi1, lo2, hi2))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(mode).parquet(path)
}
