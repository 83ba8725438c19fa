package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The checkpoint-resume contract of the extract, curate and frontier drives
 * (per-partition lineage, §5.3): a table partitioned by a logical `bucket`
 * column is written in fixed commit groups with dynamic partition overwrite,
 * and each group write is followed by one lineage row PER BUCKET of the
 * group — empty buckets included — fingerprinting what landed:
 *
 *   run_id, bucket, row_count, [drive counts], digest, status, committed_utc_ms
 *
 * digest = sha256 of the '\n'-joined, sorted row-key lines of the bucket
 * (sha256("") for an empty bucket). A bucket with a committed lineage row is
 * done: a rerun over the same table leaves its directory untouched and
 * recomputes only the rest. Because the groups are fixed bucket ranges, a
 * run killed after k of G groups leaves exactly G−k groups to run.
 */
object BucketCommit {

  val BucketCol = "bucket"

  /** sha256("") — the digest of a bucket with no rows */
  val EmptyDigest = "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"

  /** The logical bucket of a row: hash-stable across reruns and cluster sizes. */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(xxhash64(key), lit(nBuckets)).cast("int")

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Lineage log reader tolerant of rows written by older engine versions:
    * `committed_utc_ms` and `err_count` were added after the first release, so
    * a log that predates them must still resume/compact — mergeSchema unions
    * the file schemas and missing values default to 0 (epoch-0 commit stamps
    * sort OLDEST, so any re-run supersedes a legacy row, which is the correct
    * resume semantics for rows that predate the stamp). Completes an
    * interrupted compaction swap first. */
  def readLineage(spark: SparkSession, lineagePath: String): DataFrame = {
    recoverSwap(spark, lineagePath)
    val raw = spark.read.option("mergeSchema", "true").parquet(lineagePath)
    def defaulted(df: DataFrame, c: String): DataFrame =
      if (df.columns.contains(c)) df.withColumn(c, coalesce(col(c), lit(0L)))
      else df.withColumn(c, lit(0L))
    defaulted(defaulted(raw, "committed_utc_ms"), "err_count")
  }

  /** The latest committed lineage row per bucket, by commit stamp (never by
    * run_id strings: 'run-10' sorts before 'run-2'). */
  def latestCommitted(spark: SparkSession, lineagePath: String): DataFrame = {
    val w = Window.partitionBy(col(BucketCol))
      .orderBy(col("committed_utc_ms").desc, col("run_id").desc)
    readLineage(spark, lineagePath)
      .filter(col("status") === "committed")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** The done-bucket probe: buckets with a committed lineage row. At most
    * nBuckets entries (driver-safe). */
  def doneBuckets(spark: SparkSession, lineagePath: String): Set[Int] =
    if (!recoverSwap(spark, lineagePath)) Set.empty
    else readLineage(spark, lineagePath).filter(col("status") === "committed")
      .select(col(BucketCol)).distinct().collect().map(_.getInt(0)).toSet

  /** `0 until nBuckets` cut into `commitGroups` fixed contiguous ranges. */
  def groups(nBuckets: Int, commitGroups: Int): Seq[Seq[Int]] = {
    val per = math.ceil(nBuckets.toDouble / math.max(1, commitGroups)).toInt
    (0 until nBuckets).grouped(math.max(1, per)).toSeq
  }

  /** The one writer of bucketed tables: dynamic partition overwrite keyed by
    * bucket makes a rewrite idempotent per bucket (exactly-once resume
    * without a transactional catalog; the Iceberg-snapshot substitution,
    * SURVEY.md §7.0). zstd: ~25-30% smaller than snappy on extracted text at
    * comparable scan speed — tens of TB at the 100 TB tier. */
  def overwrite(df: DataFrame, path: String): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .mode(SaveMode.Overwrite)
      .partitionBy(BucketCol)
      .parquet(path)

  /** One writer per bucket: a rebalance exchange hashed on the bucket puts
    * each bucket in one task, so a small bucket lands as one file instead of
    * one file per input task (each file is a separate commit). AQE splits a
    * bucket larger than `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * into advisory-size files and merges tiny partitions, so a hot bucket is
    * never pushed through a single task. */
  def clustered(df: DataFrame): DataFrame = df.hint("rebalance", col(BucketCol))

  /**
   * Commits every bucket of `bucketed` not in `done`, one fixed group at a
   * time: the group's write, then its lineage rows from the read-back.
   * `rowKey` is the per-row line the digest sorts and hashes; `counts` are
   * extra named per-bucket aggregates (0 for an empty bucket); `layout`
   * shapes a group's rows before the write (default: `clustered`).
   * `onGroup(k, n, buckets)` runs after the k-th of this run's n group
   * commits. `failAfterGroups` is the crash hook: throw after that many
   * commits while groups remain.
   */
  def commit(bucketed: DataFrame, tablePath: String, lineagePath: String, runId: String,
             nBuckets: Int, commitGroups: Int, done: Set[Int], rowKey: Column,
             counts: Seq[(String, Column)] = Nil,
             layout: DataFrame => DataFrame = clustered,
             failAfterGroups: Option[Int] = None,
             onGroup: (Int, Int, Seq[Int]) => Unit = (_, _, _) => ()): Unit = {
    val spark = bucketed.sparkSession
    val todo = groups(nBuckets, commitGroups).map(_.filterNot(done)).filter(_.nonEmpty)
    todo.zipWithIndex.foreach { case (group, i) =>
      val part =
        if (group.size == nBuckets) bucketed
        else bucketed.filter(col(BucketCol).isin(group: _*))
      overwrite(layout(part), tablePath)
      // read back under the frame's schema: a group with no rows writes no
      // part files, and schema inference on that dir throws. isin on the
      // partition column prunes the other buckets' dirs from the scan
      val written = spark.read.schema(bucketed.schema).parquet(tablePath)
        .filter(col(BucketCol).isin(group: _*))
      lineageRows(written, group, runId, rowKey, counts)
        .write.mode(SaveMode.Append).parquet(lineagePath)
      onGroup(i + 1, todo.size, group)
      failAfterGroups.foreach { k =>
        if (i + 1 >= k && i + 1 < todo.size)
          throw new IllegalStateException(s"injected failure after ${i + 1} commit group(s)")
      }
    }
  }

  /** One lineage row per bucket of `group`: an empty bucket gets row_count 0
    * and the empty digest, so no later resume sees it as missing. */
  private def lineageRows(written: DataFrame, group: Seq[Int], runId: String,
                          rowKey: Column, counts: Seq[(String, Column)]): DataFrame = {
    val spark = written.sparkSession
    import spark.implicits._
    val aggs = written.groupBy(col(BucketCol)).agg(
      count(lit(1)).as("row_count"),
      counts.map { case (n, c) => c.as(n) } :+
        sha2(encode(concat_ws("\n", sort_array(collect_list(rowKey))), "UTF-8"), 256).as("digest"): _*)
    val zeroed = ("row_count" +: counts.map(_._1)).map(n => coalesce(col(n), lit(0L)).as(n))
    // one partition ⇒ one lineage file per group; `aggs` holds at most one
    // row per bucket of the group, so broadcasting it is safe at any scale
    group.toDF(BucketCol).coalesce(1).join(broadcast(aggs), Seq(BucketCol), "left")
      .select(Seq(lit(runId).as("run_id"), col(BucketCol)) ++ zeroed ++ Seq(
        coalesce(col("digest"), lit(EmptyDigest)).as("digest"),
        lit("committed").as("status"),
        // monotonic commit stamp: "latest lineage per bucket" orders by this
        lit(System.currentTimeMillis()).as("committed_utc_ms")): _*)
  }

  /**
   * Compacts the lineage log to the latest committed row per bucket. Resume
   * semantics are preserved exactly — resume reads only committed buckets,
   * which compaction keeps. The compacted log is written to a temp dir and
   * swapped in with renames so a crash leaves either the old or the new log,
   * never a partial one.
   */
  def compactLineage(spark: SparkSession, lineagePath: String): Unit = {
    if (!recoverSwap(spark, lineagePath)) return
    val compactTmp = s"${lineagePath}_compact_tmp"
    latestCommitted(spark, lineagePath).write.mode(SaveMode.Overwrite).parquet(compactTmp)
    val live = new Path(lineagePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(s"${lineagePath}_old_tmp")
    if (fs.exists(old)) fs.delete(old, true) // leftover from a prior crash
    // rename returns false on failure (it does not throw): an unchecked promote
    // followed by the old-dir delete would destroy the only lineage copy
    if (!fs.rename(live, old))
      throw new IllegalStateException(s"lineage compaction: could not move $live aside")
    if (!fs.rename(new Path(compactTmp), live)) {
      fs.rename(old, live) // restore the original before failing
      throw new IllegalStateException("lineage compaction: promote failed; original restored")
    }
    fs.delete(old, true)
  }

  /** The compaction swap is two renames, not one atomic op: a crash between
    * them leaves NO live lineage (resume would silently recompute
    * everything). Every lineage reader first completes an interrupted swap
    * from the surviving tmp dirs — the swap is RECOVERABLE rather than
    * atomic. Returns whether a live lineage log exists. */
  private def recoverSwap(spark: SparkSession, lineagePath: String): Boolean = {
    val live = new Path(lineagePath)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val compactTmp = new Path(s"${lineagePath}_compact_tmp")
    val oldTmp = new Path(s"${lineagePath}_old_tmp")
    if (!fs.exists(live)) {
      // died between the renames: the compacted (preferred) or original log
      // is sitting in a tmp dir — promote it
      if (fs.exists(compactTmp)) fs.rename(compactTmp, live)
      else if (fs.exists(oldTmp)) fs.rename(oldTmp, live)
    }
    val present = fs.exists(live)
    if (present) {
      if (fs.exists(oldTmp)) fs.delete(oldTmp, true)
      if (fs.exists(compactTmp)) fs.delete(compactTmp, true)
    }
    present
  }
}
