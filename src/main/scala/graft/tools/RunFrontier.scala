package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.fixtures.Corpus
import graft.pipeline.FrontierPipeline

/**
 * spark-submit entry point for the crawl-frontier loop: run
 * FrontierPipeline.runJob for ONE round, with the PREVIOUS round's frontier
 * output as this round's `seen` anti-join input — drive it once per crawl
 * round and each round only emits urls no earlier round discovered
 * (re-discovery is idempotent across rounds). Checkpoint-resume inside a
 * round works like RunExtract/RunCurate: rerunning the same round dir skips
 * committed buckets (`resumed_buckets` in the summary) and, because the
 * frontier op is deterministic, lands byte-identical lineage digests.
 *
 * Usage:
 *   RunFrontier <outDir> [round=0] [input=fixture:42] [nPages=2000]
 *               [agent=graftbot] [blockedDomains=csv] [runId=frontier-<round>]
 *   input = fixture:<seed> (deterministic corpus) | parquet:<path>
 *           (a table carrying url + html columns)
 *
 * Round r writes <outDir>/round-<r>/{frontier,lineage}; seen = the frontier
 * parquet of rounds 0..r-1 (all earlier rounds, unioned — a url discovered
 * in round 0 must not re-emit in round 5 even if round 4 missed it).
 */
object RunFrontier {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(
      sys.error("usage: RunFrontier <outDir> [round] [input] [nPages] [agent] [blockedDomains] [runId]"))
    val round = args.lift(1).map(_.toInt).getOrElse(0)
    val input = args.lift(2).getOrElse("fixture:42")
    val nPages = args.lift(3).map(_.toLong).getOrElse(2000L)
    val agent = args.lift(4).getOrElse("graftbot")
    val blocked = args.lift(5).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val runId = args.lift(6).getOrElse(s"frontier-$round")

    val spark = SparkSession.builder()
      .appName("graft-frontier")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pages =
      if (input.startsWith("parquet:"))
        spark.read.parquet(input.stripPrefix("parquet:")).select(col("url"), col("html"))
      else
        Corpus.pages(spark, nPages, input.stripPrefix("fixture:").toLong)
          .select(col("url"), col("html"))

    // seen = every earlier round's discoveries (narrow: url column only).
    // Explicit schema: a converged round writes ZERO part files and schema
    // inference on its empty frontier dir would throw.
    val frontierSchema = "url STRING, host STRING, kind STRING, " +
      "discovered_from STRING, politeness_key BIGINT, bucket INT"
    val seenDirs = (0 until round)
      .map(r => s"$outDir/round-$r/frontier")
      .filter(graft.pipeline.BucketCommit.exists(spark, _))
    val seen =
      if (seenDirs.isEmpty) None
      else Some(seenDirs.map(d =>
          spark.read.schema(frontierSchema).parquet(d).select(col("url")))
        .reduce(_ unionByName _))

    val t0 = System.nanoTime()
    val r = FrontierPipeline.runJob(spark, pages, s"$outDir/round-$round",
      urlCol = "url", payloadCol = "html",
      agent = agent, blockedDomains = blocked,
      seen = seen, commitGroups = 4, runId = runId)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"round":$round,"n_targets":${r.nTargets},""" +
      f""""resumed_buckets":${r.resumedBuckets},"seen_rounds":${seenDirs.size},""" +
      f""""wall_sec":$sec%.2f}""")
    spark.stop()
  }
}
