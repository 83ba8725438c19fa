package graft.pipeline

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.fixtures.Corpus

/** The write layout of bucketed tables: one writer per bucket. */
class BucketCommitSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("graft-commit").toString

  /** bucket dir name → number of parquet data files in it */
  private def filesPerBucket(table: String): Map[String, Int] =
    Option(new File(table).listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap

  private def assertOneFileEach(table: String): Unit = {
    val files = filesPerBucket(table)
    assert(files.size > 1, s"$table: $files")
    assert(files.values.forall(_ == 1), s"$table: $files")
  }

  test("clustered layout: each quarantine, curated and frontier bucket holds one file") {
    val s = spark
    import s.implicits._
    val extract = ExtractPipeline.run(spark, Corpus.pages(spark, 500).repartition(8), tmp(),
      ExtractPipeline.Config(mode = "force", runId = "layout-0"))
    assertOneFileEach(extract.quarantinePath)

    val docs = (1L to 120L).map(i => (i, s"http://h${i % 9}.example/$i", s"doc $i text"))
      .toDF("id", "url", "text").repartition(8)
    val curated = CurationPipeline.runJob(spark, docs, tmp(), "text", "id", "url",
      gates = Set(), nBuckets = 8)
    assertOneFileEach(curated.curatedPath)

    val pages = (1 to 60).map { i =>
      (s"https://h${i % 5}.example/p$i",
        s"""<html><body><a href="/l/${i}_1">x</a> <a href="/l/${i}_2">y</a></body></html>""".getBytes("UTF-8"))
    }.toDF("url", "payload").repartition(8)
    val frontier = FrontierPipeline.runJob(spark, pages, tmp(), "url", "payload", nBuckets = 8)
    assertOneFileEach(frontier.frontierPath)
  }

  test("clustered layout: AQE splits an oversized bucket into several files") {
    // bucket 0 holds 3900 rows, buckets 1-3 hold ~33 each; hex payloads so
    // the shuffle blocks do not compress away
    val rows = spark.range(0, 4000, 1, 8)
      .withColumn(BucketCommit.BucketCol,
        when(col("id") < 3900, lit(0)).otherwise(pmod(col("id"), lit(3)) + 1).cast("int"))
      .withColumn("payload", concat(sha2(col("id").cast("string"), 512),
        sha2((col("id") + 1).cast("string"), 512)))
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "16k")
    val out = tmp()
    try BucketCommit.commit(rows, s"$out/table", s"$out/lineage", "skew-0",
      nBuckets = 4, commitGroups = 1, done = Set.empty, rowKey = col("payload"))
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val files = filesPerBucket(s"$out/table")
    assert(files("bucket=0") > 1, files)
    assert((1 to 3).forall(b => files(s"bucket=$b") == 1), files)
    val counts = spark.read.parquet(s"$out/lineage").select("bucket", "row_count").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts(0) == 3900 && counts.values.sum == 4000, counts)
  }
}
