package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Checkpoint-resumable frontier run — the CurationPipeline.runJob shape
 * applied to discovery: frontier targets bucket on a hash of the url and
 * commit per fixed group through BucketCommit, lineage rows keyed on
 * "url\tkind\tdiscovered_from". A rerun over the same outDir skips committed
 * buckets; the frontier op is deterministic (min-struct keepers, canonical
 * keys), so a resumed run's bytes equal an uninterrupted run's
 * (spec-pinned). A round that discovers nothing new (the steady state of a
 * crawl loop whose seen set has converged) commits every bucket empty. In a
 * crawl loop the PREVIOUS round's frontier output is this round's `seen`
 * input — the anti-join makes re-discovery idempotent across rounds.
 */
object FrontierPipeline {

  final case class JobResult(frontierPath: String, lineagePath: String,
                             nTargets: Long, resumedBuckets: Int)

  def runJob(spark: SparkSession, pages: DataFrame, outDir: String,
             urlCol: String, payloadCol: String,
             robots: Option[DataFrame] = None,
             agent: String = "graftbot",
             blockedDomains: Seq[String] = Nil,
             blockedSubstrings: Seq[String] = Nil,
             seen: Option[DataFrame] = None, seenUrlCol: String = "url",
             shards: Int = 1024,
             nBuckets: Int = 16, commitGroups: Int = 1,
             runId: String = "frontier-0",
             failAfterGroups: Option[Int] = None): JobResult = {
    val frontierPath = s"$outDir/frontier"
    val lineagePath = s"$outDir/lineage"
    val done = BucketCommit.doneBuckets(spark, lineagePath)
    val targets = graft.ops.FrontierOps.frontier(pages, urlCol, payloadCol,
      robots = robots, agent = agent,
      blockedDomains = blockedDomains, blockedSubstrings = blockedSubstrings,
      seen = seen, seenUrlCol = seenUrlCol, shards = shards)
    BucketCommit.commit(
      targets.withColumn(BucketCommit.BucketCol, BucketCommit.bucketOf(col("url"), nBuckets)),
      frontierPath, lineagePath, runId, nBuckets, commitGroups, done,
      rowKey = concat_ws("\t", col("url"), col("kind"), col("discovered_from")),
      failAfterGroups = failAfterGroups)
    // the target count is the committed row counts' sum — no table rescan
    val n = BucketCommit.latestCommitted(spark, lineagePath)
      .agg(coalesce(sum(col("row_count")), lit(0L))).head().getLong(0)
    JobResult(frontierPath, lineagePath, n, done.size)
  }
}
