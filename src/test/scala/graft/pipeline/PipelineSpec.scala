package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.SparkTestBase
import graft.fixtures.{Corpus, CorpusGen}

/** End-to-end pipeline invariants (FIXTURES.md §5). */
class PipelineSpec extends AnyFunSuite with SparkTestBase with TimeLimits {

  private implicit val signaler: Signaler = ThreadSignaler

  private val N = 500

  private def tmp(): String = Files.createTempDirectory("graft-pipe").toString

  private lazy val truth = Corpus.truth(N)

  /** The table dir names an ExtractPipeline.run wrote, in order; its last
    * write is the metrics table. */
  private def extractWrites(run: => ExtractPipeline.RunResult): (ExtractPipeline.RunResult, Seq[String]) = {
    val (res, writes) = tableWrites("metrics")(run)
    (res, writes.map(_._1))
  }

  /** Rows of a run's quarantine table, read under the validator's schema: a
    * run that quarantines nothing writes no part files to infer one from. */
  private def quarantineRows(res: ExtractPipeline.RunResult): Long =
    spark.read.schema(ExtractPipeline.validate(Corpus.pages(spark, 1), ExtractPipeline.Config())._2.schema)
      .parquet(res.quarantinePath).count()

  test("force mode: extracted text byte-identical to by-construction truth for every url") {
    val out = tmp()
    val res = ExtractPipeline.run(spark, Corpus.pages(spark, N), out,
      ExtractPipeline.Config(mode = "force", runId = "t1"))
    assert(res.extracted + res.skipped + res.quarantined == N)
    assert(res.skipped == 0)
    val got = spark.read.parquet(res.extractedPath)
      .select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == res.extracted)
    got.foreach { case (url, text) =>
      val (kind, expected) = truth(url)
      assert(kind == "html" || kind == "pdf" || kind == "pre")
      assert(text == expected, s"url=$url kind=$kind")
    }
  }

  test("decryptPdfs: empty-password PDFs extract; real passwords still quarantine") {
    import spark.implicits._
    // an RC4-encrypted fixture PDF (empty passwords), a genuinely locked one
    // (corrupted /U = real user password), and a clear page
    val pdfPage = (0 until 40).map(i => CorpusGen.page(i.toLong, 42))
      .find(_.kind == "pdf").get
    val openEnc = graft.pdf.PdfCrypto.encryptRc4(pdfPage.html, v = 2)
    val locked = graft.pdf.PdfCrypto.encryptRc4(pdfPage.html, v = 2, corruptU = true)
    val ts = new java.sql.Timestamp(0L)
    val pages = Seq(
      ("http://e1.example/open.pdf", ts, openEnc),
      ("http://e2.example/locked.pdf", ts, locked),
      ("http://e3.example/clear.pdf", ts, pdfPage.html)
    ).toDF("url", "warc_ts", "html")
      .withColumn("text", lit(null).cast("string"))
      .withColumn("lang", lit("eng"))
    // default stance: BOTH encrypted files quarantine (reference semantics)
    val out0 = tmp()
    val res0 = ExtractPipeline.run(spark, pages, out0,
      ExtractPipeline.Config(mode = "force", runId = "enc0"))
    assert(res0.quarantined == 2 && res0.extracted == 1, res0.toString)
    // with recovery on: the open file extracts the SAME text as its clear
    // original; the locked file still quarantines
    val out1 = tmp()
    val res1 = ExtractPipeline.run(spark, pages, out1,
      ExtractPipeline.Config(mode = "force", runId = "enc1", decryptPdfs = true))
    assert(res1.quarantined == 1 && res1.extracted == 2, res1.toString)
    val got = spark.read.parquet(res1.extractedPath)
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("http://e1.example/open.pdf") == pdfPage.expected)
    assert(got("http://e3.example/clear.pdf") == pdfPage.expected)
    val qUrls = spark.read.parquet(s"$out1/quarantine")
      .select("url").collect().map(_.getString(0)).toSet
    assert(qUrls == Set("http://e2.example/locked.pdf"))
  }

  test("cli mode: pre-extracted rows are skipped, not recomputed") {
    val out = tmp()
    val res = ExtractPipeline.run(spark, Corpus.pages(spark, N), out,
      ExtractPipeline.Config(mode = "cli", runId = "t2"))
    val preUrls = truth.collect { case (u, ("pre", _)) => u }.toSet
    assert(res.skipped == preUrls.size)
    val skippedRows = spark.read.parquet(res.extractedPath)
      .filter(col("status") === "skipped")
      .select("url", "text").collect()
    assert(skippedRows.length == preUrls.size)
    skippedRows.foreach { r =>
      assert(preUrls.contains(r.getString(0)))
      assert(r.getString(1).startsWith("pre-extracted text for ")) // carried through
    }
  }

  test("quarantine: adversarial payloads flagged with reasons; partition of input exact") {
    val out = tmp()
    val res = ExtractPipeline.run(spark, Corpus.pages(spark, N), out,
      ExtractPipeline.Config(mode = "force", runId = "t3"))
    val badUrls = truth.collect {
      case (u, (k, _)) if k == "enc_pdf" || k == "junk" || k == "js_pdf" => u
    }.toSet
    assert(res.quarantined == badUrls.size)
    val q = spark.read.parquet(res.quarantinePath).select("url", "reasons").collect()
    assert(q.length == res.quarantined) // observed on the write, not re-read
    q.foreach { r =>
      assert(badUrls.contains(r.getString(0)))
      assert(r.getSeq[String](1).nonEmpty)
    }
  }

  test("digest invariance across shuffle-partition counts (1, 3, 7)") {
    def digests(parts: Int): Map[Int, String] = {
      val out = tmp()
      val pages = Corpus.pages(spark, N).repartition(parts)
      val res = ExtractPipeline.run(spark, pages, out,
        ExtractPipeline.Config(mode = "force", runId = s"p$parts", nBuckets = 16))
      spark.read.parquet(res.lineagePath)
        .select("bucket", "digest").collect()
        .map(r => r.getInt(0) -> r.getString(1)).toMap
    }
    val d1 = digests(1)
    val d3 = digests(3)
    val d7 = digests(7)
    assert(d1 == d3 && d3 == d7)
  }

  test("resume: killed run recomputes only missing buckets, byte-identical result") {
    val out = tmp()
    val cfg = ExtractPipeline.Config(mode = "force", runId = "r1", nBuckets = 16)
    val res = ExtractPipeline.run(spark, Corpus.pages(spark, N), out, cfg)
    val full = spark.read.parquet(res.extractedPath)
      .select("url", "text_sha256").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted

    // simulate kill: drop buckets 0-4 output and their lineage rows
    val lin = spark.read.parquet(res.lineagePath).filter(col("bucket") >= 5)
    val keep = lin.collect()
    (0 until 5).foreach { b =>
      val dir = new java.io.File(s"${res.extractedPath}/bucket=$b")
      if (dir.exists()) { dir.listFiles().foreach(_.delete()); dir.delete() }
    }
    val linDir = new java.io.File(res.lineagePath)
    linDir.listFiles().foreach(_.delete())
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(keep.toSeq.asJava, lin.schema)
      .write.mode("overwrite").parquet(res.lineagePath)

    val res2 = ExtractPipeline.run(spark, Corpus.pages(spark, N), out, cfg.copy(runId = "r2"))
    assert(res2.resumedBuckets == 11)
    val after = spark.read.parquet(res.extractedPath)
      .select("url", "text_sha256").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted
    assert(after.toSeq == full.toSeq)
  }

  test("payload tables write zstd parquet") {
    val out = tmp()
    ExtractPipeline.run(spark, Corpus.pages(spark, 100), out,
      ExtractPipeline.Config(mode = "force", runId = "codec-0", nBuckets = 4))
    def dataFiles(sub: String) = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$out/$sub")).filter(_.getName.endsWith(".parquet"))
    }
    assert(dataFiles("extracted").nonEmpty)
    assert(dataFiles("extracted").forall(_.getName.contains(".zstd.")),
      dataFiles("extracted").map(_.getName).take(3))
  }

  test("malformed urls never kill the run (try_parse_url: null host shares a salt key)") {
    val s = spark
    import s.implicits._
    val good = Corpus.pages(spark, 50)
    val bad = Seq(
      graft.model.PageRow("not a url at all", new java.sql.Timestamp(0),
        "<html><body><p>valid page behind a broken url field</p></body></html>".getBytes, null, null),
      graft.model.PageRow("", new java.sql.Timestamp(0),
        "<html><body><p>empty url row</p></body></html>".getBytes, null, null)).toDF()
    val out = tmp()
    // Spark 4's parse_url THROWS on invalid urls; the pipeline must use the
    // try_ variant — one junk url in 10^10 rows must not fail the job
    val res = ExtractPipeline.run(spark, good.unionByName(bad), out,
      ExtractPipeline.Config(mode = "force", runId = "badurl-0", nBuckets = 4))
    assert(res.totalIn == 52, res)
    val texts = spark.read.parquet(res.extractedPath)
      .select("url", "text").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(texts("not a url at all") == "valid page behind a broken url field")
  }

  test("freq-aware salting survives a null-host-heavy shard (no null map key, rows spread)") {
    val s = spark
    import s.implicits._
    // 70% malformed urls → null hosts dominate the sample
    val rows = (0 until 200).map { i =>
      val url = if (i % 10 < 7) s"junk url $i" else s"https://ok.example/doc/$i"
      graft.model.PageRow(url, new java.sql.Timestamp(0),
        s"<html><body><p>doc $i with enough words to pass checks</p></body></html>".getBytes, null, null)
    }.toDF()
    val withHost = rows.withColumn("_host", graft.functions.url_host(col("url")))
    val salts = SkewSalting.headHostSalts(withHost, col("_host"), 8, sampleFraction = 1.0)
    assert(!salts.keySet.exists(_ == null), salts)
    val spread = withHost
      .withColumn("_salt", SkewSalting.saltColumn(col("url"), col("_host"), salts))
      .filter(col("_host").isNull)
      .select("_salt").distinct().count()
    assert(spread > 1, s"null-host rows must spread across salts, got $spread key(s)")
    // and the full pipeline run with freqAwareSalt on this shard completes
    val out = tmp()
    val res = ExtractPipeline.run(spark, rows, out,
      ExtractPipeline.Config(mode = "force", runId = "nullhost-0", nBuckets = 4, freqAwareSalt = true))
    assert(res.totalIn == 200, res)
  }

  test("lineage row counts reconcile with extracted output") {
    val out = tmp()
    val res = ExtractPipeline.run(spark, Corpus.pages(spark, N), out,
      ExtractPipeline.Config(mode = "cli", runId = "t5"))
    val linSum = spark.read.parquet(res.lineagePath)
      .agg(sum("row_count"), sum("ok_count"), sum("skipped_count")).collect()(0)
    assert(linSum.getLong(0) == res.extracted + res.skipped)
    assert(linSum.getLong(1) == res.extracted)
    assert(linSum.getLong(2) == res.skipped)
  }

  test("mid-job crash between commit groups: resume recomputes only uncommitted groups") {
    val out = tmp()
    val cfg = ExtractPipeline.Config(mode = "force", runId = "g1", nBuckets = 16, commitGroups = 4)
    // uninterrupted reference run (separate dir) for byte-identity comparison
    val ref = ExtractPipeline.run(spark, Corpus.pages(spark, N), tmp() + "/ref",
      cfg.copy(runId = "ref"))
    val refRows = spark.read.parquet(ref.extractedPath)
      .select("url", "text_sha256").collect().map(r => (r.getString(0), r.getString(1))).sorted

    // crashing run: dies after 2 of 4 group commits
    val crash = intercept[IllegalStateException] {
      ExtractPipeline.run(spark, Corpus.pages(spark, N), out,
        cfg.copy(failAfterGroups = Some(2)))
    }
    assert(crash.getMessage.contains("injected failure"))
    val committedAfterCrash = spark.read.parquet(s"$out/lineage")
      .select("bucket").distinct().count()
    assert(committedAfterCrash == 8, s"expected 8 committed buckets, got $committedAfterCrash")

    // resume: finishes the remaining groups only — the groups are fixed
    // bucket ranges, so the rerun writes exactly the 2 uncommitted groups
    val (res, writes) = extractWrites(
      ExtractPipeline.run(spark, Corpus.pages(spark, N), out, cfg.copy(runId = "g2")))
    assert(res.resumedBuckets == 8)
    assert(writes.count(_ == "extracted") == 2, writes.mkString(","))
    // the rerun observes its own quarantine write and counts the done buckets
    assert(res.quarantined == quarantineRows(res) && res.quarantined == ref.quarantined, res)
    val rows = spark.read.parquet(res.extractedPath)
      .select("url", "text_sha256").collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(rows.toSeq == refRows.toSeq)
    // lineage carries both run attempts
    val runs = spark.read.parquet(res.lineagePath).select("run_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(runs == Set("g1", "g2"))
  }

  test("all-quarantined input commits every bucket empty instead of crashing") {
    val s = spark
    import s.implicits._
    val pages = (0 until 50).map(i =>
      graft.model.PageRow(s"http://junk$i.example/", new java.sql.Timestamp(0),
        "JUNKJUNK".getBytes, null, null)).toDF()
    val out = tmp()
    val res = ExtractPipeline.run(spark, pages, out,
      ExtractPipeline.Config(mode = "force", runId = "allq-0", nBuckets = 8))
    assert(res.extracted == 0 && res.quarantined == 50, res)
    val lin = spark.read.parquet(res.lineagePath).select("bucket", "row_count", "digest")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    assert(lin == (0 until 8).map(b => (b, 0L, BucketCommit.EmptyDigest)).toSet, lin)
  }

  test("small input: empty buckets commit, so a rerun resumes all 64 and writes nothing") {
    val out = tmp()
    val cfg = ExtractPipeline.Config(mode = "force", runId = "small-0")
    val res = ExtractPipeline.run(spark, Corpus.pages(spark, 20), out, cfg)
    val lin = spark.read.parquet(res.lineagePath).collect()
    assert(lin.length == 64)
    val empty = lin.filter(_.getAs[Long]("row_count") == 0L)
    assert(empty.nonEmpty && empty.forall(_.getAs[String]("digest") == BucketCommit.EmptyDigest))
    // the snapshot lists the empty buckets too
    val json = CatalogIO.readSnapshotJson(spark, res.extractedPath, res.snapshotId)
    assert("\"bucket\":".r.findAllIn(json).size == 64)

    // nothing is written, so nothing is observed: the rerun must return, not block
    val (again, writes) = failAfter(Span(120, Seconds))(extractWrites(
      ExtractPipeline.run(spark, Corpus.pages(spark, 20), out, cfg.copy(runId = "small-1"))))
    assert(again.resumedBuckets == 64)
    assert(!writes.contains("extracted") && !writes.contains("lineage") &&
      !writes.contains("quarantine"), writes.mkString(","))
    assert((again.extracted, again.skipped, again.errors, again.quarantined) ==
      (res.extracted, res.skipped, res.errors, res.quarantined), again)
    assert(again.quarantined == quarantineRows(again), again)
  }

  test("no quarantined row: the observed count is 0") {
    // the input is a parquet scan so that validation runs in a map stage that
    // AQE finds empty and prunes; the observation above it still reports 0
    val s = spark
    import s.implicits._
    val cleanDir = tmp() + "/pages"
    (0 until 40).map(i =>
      graft.model.PageRow(s"http://clean$i.example/", new java.sql.Timestamp(0),
        s"<html><body><p>page $i</p></body></html>".getBytes("UTF-8"), null, null)).toDF()
      .write.parquet(cleanDir)
    val none = ExtractPipeline.run(spark, spark.read.parquet(cleanDir), tmp(),
      ExtractPipeline.Config(mode = "force", runId = "qc-0", nBuckets = 8))
    assert(none.quarantined == 0 && quarantineRows(none) == 0, none)
    assert(none.extracted + none.errors == 40, none)
  }

  test("a crashed run leaves no MetricsListener on the listener bus") {
    import org.apache.spark.graftspec.ListenerBusProbe
    val before = ListenerBusProbe.count[MetricsListener](spark.sparkContext)
    intercept[IllegalStateException] {
      ExtractPipeline.run(spark, Corpus.pages(spark, 100), tmp(),
        ExtractPipeline.Config(mode = "force", runId = "leak-0", nBuckets = 8, commitGroups = 4,
          failAfterGroups = Some(1)))
    }
    assert(ListenerBusProbe.count[MetricsListener](spark.sparkContext) == before)
  }

  test("legacy lineage (no committed_utc_ms/err_count) still resumes, compacts and summarizes") {
    val out = tmp()
    val res = ExtractPipeline.run(spark, Corpus.pages(spark, N), out,
      ExtractPipeline.Config(mode = "force", runId = "legacy-0", nBuckets = 8))
    // rewrite the lineage log as an OLDER engine version would have written it
    val legacy = spark.read.parquet(res.lineagePath)
      .drop("committed_utc_ms", "err_count")
      .collect()
    val legacySchema = spark.read.parquet(res.lineagePath).drop("committed_utc_ms", "err_count").schema
    val legacyDf = spark.createDataFrame(java.util.Arrays.asList(legacy: _*), legacySchema)
    val tmpLin = s"$out/lineage_legacy_tmp"
    legacyDf.write.mode("overwrite").parquet(tmpLin)
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(res.lineagePath), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmpLin), new org.apache.hadoop.fs.Path(res.lineagePath))
    // resume over the legacy log: all 8 buckets must read as committed
    val res2 = ExtractPipeline.run(spark, Corpus.pages(spark, N), out,
      ExtractPipeline.Config(mode = "force", runId = "legacy-1", nBuckets = 8))
    assert(res2.resumedBuckets == 8, res2)
    // retention compacts without a missing-column error; summary still rolls up
    // (legacy-1 resumed everything so it wrote NO lineage — its rollup columns
    // are legitimately null; legacy-0's committed buckets must survive)
    ExtractPipeline.retention(spark, out, keepSnapshots = 1)
    val rows = ExtractPipeline.jobSummary(spark, out).collect()
    val first = rows.find(_.getAs[String]("run_id") == "legacy-0").get
    assert(first.getAs[Long]("buckets_committed") == 8, first)
    assert(first.getAs[Long]("errors") == 0L)
  }

  test("freqAwareSalt pipeline run produces identical digests to uniform salting") {
    val outA = tmp()
    val outB = tmp()
    val base = ExtractPipeline.Config(mode = "force", runId = "s1", nBuckets = 16)
    ExtractPipeline.run(spark, Corpus.pages(spark, N), outA, base)
    ExtractPipeline.run(spark, Corpus.pages(spark, N), outB, base.copy(freqAwareSalt = true))
    def digs(out: String) = spark.read.parquet(s"$out/extracted")
      .select("url", "text_sha256").collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(digs(outA) == digs(outB))
  }

  test("cross-config invariance: partitions x freqAwareSalt x commitGroups → identical digests") {
    def digests(parts: Int, freq: Boolean, groups: Int): Seq[(String, String)] = {
      val out = tmp()
      ExtractPipeline.run(spark, Corpus.pages(spark, N).repartition(parts), out,
        ExtractPipeline.Config(mode = "force", runId = s"x$parts$freq$groups",
          nBuckets = 16, freqAwareSalt = freq, commitGroups = groups))
      spark.read.parquet(s"$out/extracted")
        .select("url", "text_sha256").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    }
    val base = digests(2, freq = false, groups = 1)
    assert(digests(5, freq = true, groups = 1) == base)
    assert(digests(3, freq = false, groups = 3) == base)
    assert(digests(7, freq = true, groups = 4) == base)
  }

  test("risk classification and url sanity follow reference keyword semantics") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    def row(url: String, html: Array[Byte]) =
      graft.model.PageRow(url, ts, html, null, "en")
    val pages = Seq(
      row("http://a.example/exe", "MZ\u0090\u0000payload".getBytes("ISO-8859-1") /* deliberately malformed UTF-8 */),
      row("http://a.example/../../etc/passwd", "<html><p>x</p></html>".getBytes),
      row("http://a.example/enc", "%PDF-1.4\n<< /Encrypt 9 0 R >>".getBytes),
      row("http://a.example/js", "%PDF-1.4\n<< /OpenAction << /JS (x) >> /JavaScript >>".getBytes),
      // leading newline + BOM-prefixed HTML must NOT be quarantined
      row("http://a.example/nl", "\n\t<html><body><p>the quick brown fox runs</p></body></html>".getBytes),
      row("http://a.example/bom", "\uFEFF<html><body><p>the quick brown fox runs</p></body></html>".getBytes("UTF-8")),
      row("http://a.example/junk", "JUNKJUNK".getBytes)
    ).toDF()
    val (valid, quarantine) = ExtractPipeline.validate(pages, ExtractPipeline.Config())
    val q = quarantine.select("url", "risk", "reasons").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getSeq[String](2))).toMap
    assert(q("http://a.example/exe")._1 == "critical")
    assert(q("http://a.example/../../etc/passwd")._1 == "critical")
    assert(q("http://a.example/../../etc/passwd")._2.contains("path_traversal_url"))
    assert(q("http://a.example/enc")._1 == "high")
    assert(q("http://a.example/js")._1 == "high")
    assert(q("http://a.example/junk")._1 == "low")
    val okUrls = valid.select("url").collect().map(_.getString(0)).toSet
    assert(okUrls == Set("http://a.example/nl", "http://a.example/bom"))
  }

  test("per-row extraction failure: malformed-but-valid-magic PDF lands as status=error with a reason") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    def row(url: String, html: Array[Byte]) =
      graft.model.PageRow(url, ts, html, null, "en")
    val pages = Seq(
      // passes preflight (version ok, not encrypted) but has no object frames
      row("http://err.example/no-objects", "%PDF-1.4\nnothing resembling an object".getBytes),
      // objects exist but no page content stream
      row("http://err.example/no-content",
        "%PDF-1.4\n1 0 obj\n<< /Type /Catalog >>\nendobj\n%%EOF".getBytes),
      // healthy HTML control row
      row("http://err.example/ok", "<html><body><p>the quick brown fox runs today</p></body></html>".getBytes)
    ).toDF()
    val out = tmp()
    val res = ExtractPipeline.run(spark, pages, out,
      ExtractPipeline.Config(mode = "force", runId = "e1", nBuckets = 4))
    assert(res.errors == 2 && res.extracted == 1 && res.quarantined == 0, res.toString)
    val rows = spark.read.parquet(res.extractedPath)
      .select("url", "status", "error_class").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows("http://err.example/no-objects") == (("error", "pdf_no_objects")))
    assert(rows("http://err.example/no-content") == (("error", "pdf_no_content_stream")))
    assert(rows("http://err.example/ok")._1 == "extracted")
    assert(rows("http://err.example/ok")._2 == null)
    // lineage reconciles the error rows separately from ok rows
    val lin = spark.read.parquet(res.lineagePath)
      .agg(sum("ok_count"), sum("err_count")).collect()(0)
    assert(lin.getLong(0) == 1 && lin.getLong(1) == 2)
  }

  test("audit log: crash keeps committed groups' events; resume completes the trail") {
    val out = tmp()
    val cfg = ExtractPipeline.Config(mode = "force", runId = "a1", nBuckets = 16,
      commitGroups = 4, maxRowsPerRun = 100)
    intercept[IllegalStateException] {
      ExtractPipeline.run(spark, Corpus.pages(spark, N), out, cfg.copy(failAfterGroups = Some(2)))
    }
    val afterCrash = spark.read.parquet(s"$out/audit")
      .orderBy(col("seq")).collect().map(r => r.getAs[String]("event_type"))
    // durability: run_start, the B11 warning (500 > 100), and exactly the two
    // committed groups' events survive; run_complete must NOT be present
    assert(afterCrash.toSeq == Seq("run_start", "batch_too_large", "group_commit", "group_commit"),
      afterCrash.mkString(","))
    val warn = spark.read.parquet(s"$out/audit")
      .filter(col("event_type") === "batch_too_large").collect()(0)
    assert(warn.getAs[String]("severity") == "warning")
    assert(warn.getAs[String]("message").contains("maxRowsPerRun=100"))

    ExtractPipeline.run(spark, Corpus.pages(spark, N), out, cfg.copy(runId = "a2"))
    val events = spark.read.parquet(s"$out/audit")
      .select("run_id", "event_type").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(events.contains(("a2", "resume")))
    assert(events.contains(("a2", "run_complete")))
    assert(!events.contains(("a1", "run_complete")))
  }

  test("retention: old snapshots expire, lineage compacts to latest per bucket, resume intact") {
    val out = tmp()
    val cfg = ExtractPipeline.Config(mode = "force", runId = "r-old", nBuckets = 16)
    val res = ExtractPipeline.run(spark, Corpus.pages(spark, N), out, cfg)
    // synthesize history: stale rows for every bucket from an older run
    val lin = spark.read.parquet(res.lineagePath)
    lin.withColumn("run_id", lit("run-ancient"))
      .withColumn("committed_utc_ms", col("committed_utc_ms") - 1000000L)
      .withColumn("digest", lit("stale"))
      .write.mode("append").parquet(res.lineagePath)
    (1 to 4).foreach { i =>
      CatalogIO.writeSnapshot(spark, res.extractedPath,
        CatalogIO.Snapshot(f"snap-$i%06d-r$i", s"r$i", "", i.toLong, Seq.empty))
    }
    assert(spark.read.parquet(res.lineagePath).count() == 32)
    assert(CatalogIO.listSnapshots(spark, res.extractedPath).size == 5)

    ExtractPipeline.retention(spark, out, keepSnapshots = 2)

    val snaps = CatalogIO.listSnapshots(spark, res.extractedPath)
    assert(snaps.size == 2 && snaps.last == "snap-000004-r4", snaps.mkString(","))
    val compacted = spark.read.parquet(res.lineagePath).collect()
    assert(compacted.length == 16)
    compacted.foreach { r =>
      assert(r.getAs[String]("run_id") == "r-old") // the newer rows won
      assert(r.getAs[String]("digest") != "stale")
    }
    // resume still sees every bucket as done
    val res2 = ExtractPipeline.run(spark, Corpus.pages(spark, N), out, cfg.copy(runId = "r-new"))
    assert(res2.resumedBuckets == 16)
    // snapshot ids keep ascending past expiry: the new id must sort AFTER the
    // kept ones (a count-derived id would regress below snap-x04)
    val snapsAfter = CatalogIO.listSnapshots(spark, res.extractedPath)
    assert(snapsAfter.last == res2.snapshotId, snapsAfter.mkString(","))
  }

  test("interrupted retention swap: lineage recovered from tmp dirs on next run") {
    val out = tmp()
    val cfg = ExtractPipeline.Config(mode = "force", runId = "rs1", nBuckets = 8)
    ExtractPipeline.run(spark, Corpus.pages(spark, N), out, cfg)
    // simulate a crash between the two renames: lineage moved away, compacted
    // log stranded in lineage_compact_tmp
    val fs = new java.io.File(out)
    assert(new java.io.File(fs, "lineage").renameTo(new java.io.File(fs, "lineage_compact_tmp")))
    // next run must recover the swap and resume every bucket, not recompute
    val res2 = ExtractPipeline.run(spark, Corpus.pages(spark, N), out, cfg.copy(runId = "rs2"))
    assert(res2.resumedBuckets == 8, res2.toString)
  }

  test("jobs table, metrics table, snapshot manifest and jobSummary rollup") {
    val out = tmp()
    val res = ExtractPipeline.run(spark, Corpus.pages(spark, N), out,
      ExtractPipeline.Config(mode = "force", runId = "t6", nBuckets = 16))
    // jobs row
    val job = spark.read.parquet(res.jobsPath).collect()(0)
    assert(job.getAs[String]("run_id") == "t6")
    assert(job.getAs[Long]("total_rows") == N)
    // metrics rows exist with real task counts
    val metrics = spark.read.parquet(s"$out/metrics")
    assert(metrics.count() > 0)
    assert(metrics.agg(sum("tasks")).collect()(0).getLong(0) > 0)
    // snapshot manifest lists all 16 buckets with digests
    val snaps = CatalogIO.listSnapshots(spark, res.extractedPath)
    assert(snaps.size == 1 && res.snapshotId == snaps.head)
    val json = CatalogIO.readSnapshotJson(spark, res.extractedPath, snaps.head)
    assert(json.contains("\"run_id\":\"t6\"") && json.contains("\"digest\""))
    assert("\"bucket\":".r.findAllIn(json).size == 16)
    // summary rollup
    val summary = ExtractPipeline.jobSummary(spark, out).collect()(0)
    assert(summary.getAs[Long]("buckets_committed") == 16)
    assert(summary.getAs[Long]("lineage_rows") == res.extracted + res.skipped)
    // errors must be visible in the summary (reference job_summary counts
    // failed files, docker/init.sql:28-49)
    assert(summary.getAs[Long]("errors") == res.errors)
  }
}
