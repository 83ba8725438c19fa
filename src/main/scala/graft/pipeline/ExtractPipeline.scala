package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{extract_doc, is_pdf, pdf_preflight, text_digest, url_host}

/**
 * The extraction job: scan → validate/quarantine → mode filter → salt skewed
 * hosts → extract → bucketed write → per-bucket lineage → resume.
 *
 * Dataflow mirrors the reference CLI lifecycle (ocr_combined.py:232-264) re-expressed
 * as one declarative plan:
 *
 *   pages ─ preflight ─┬─ quarantine table           (security_validator.py:309-335)
 *                      └─ mode filter (skip_text)     (ocr_combined.py:124-141)
 *                          └─ anti-join done buckets  (resume; archive-dedup analog :147-157)
 *                              └─ repartition(host, salt)  ← explicit skew handling
 *                                  └─ extract_any_text (ExtractMainContent | ParsePdfText)
 *                                      └─ write extracted/bucket=K  +  lineage rows
 *
 * Scale design (10^12 docs): every decision is per-row or per-bucket; no driver
 * collect of data rows. Buckets are a *logical*, url-hash-stable partitioning
 * (pmod(xxhash64(url), nBuckets)) — they survive reruns and cluster-size changes,
 * which is what makes lineage rows a valid checkpoint unit. Physical parallelism
 * (shuffle partitions, executor count) is free to differ from nBuckets.
 */
object ExtractPipeline {

  final case class Config(
      mode: String = "cli", // cli | visual (skip pre-extracted) | force (recompute all)
      maxBytes: Long = 100L * 1024 * 1024, // reference default 100MB (config.py:24)
      nBuckets: Int = 64,
      saltsPerHost: Int = 8, // zipf head hosts split across this many shuffle keys
      runId: String = "run-0",
      withSpans: Boolean = true, // emit hOCR-analog word spans for PDF payloads (visual/force modes, A8)
      freqAwareSalt: Boolean = false, // sample host shares, salt only the zipf head (SkewSalting)
      commitGroups: Int = 1, // >1 ⇒ buckets committed in batches (finer mid-job checkpoints, more input scans)
      failAfterGroups: Option[Int] = None, // test hook: inject a crash after N group commits
      maxRowsPerRun: Long = 0L, // B11 batch cap (config.py:56): >0 ⇒ audit-flag oversized runs
      decryptPdfs: Boolean = false // attempt empty-user-password recovery (PdfCrypto, RC4
      // standard handler) BEFORE validation: recovered files extract like clear
      // PDFs; genuinely password-protected ones still quarantine. Off by default
      // — the reference quarantines every encrypted PDF, and the golden corpus
      // digests are pinned to that stance
  )

  /** Validation struct: quarantine reasons per row (empty ⇒ valid).
    * Mirrors security_validator semantics: size cap (:177-179), magic/version
    * (:370-390), encryption markers (:417-439). HTML payloads are accepted when
    * the first non-whitespace byte is '<'; anything else is an unknown payload. */
  def validationReasons(cfg: Config): org.apache.spark.sql.Column = {
    val pf = pdf_preflight(col("html"))
    def magic(bytes: Array[Byte]) =
      substring(col("html"), 1, bytes.length) === lit(bytes)
    array_compact(array(
      when(length(col("html")) > cfg.maxBytes, lit("too_large")),
      when(length(col("html")) === 0, lit("empty_payload")),
      when(is_pdf(col("html")) && !pf.getField("is_pdf"), lit("bad_pdf_version")),
      when(is_pdf(col("html")) && pf.getField("encrypted"), lit("encrypted")),
      // active-content PDFs (B7 suspicious patterns): /JavaScript /OpenAction /Launch /AA
      when(is_pdf(col("html")) && pf.getField("suspicious"), lit("suspicious_pdf_action")),
      // executable payloads masquerading as pages (PE / ELF / shebang magic)
      when(magic("MZ".getBytes) || magic(Array(0x7f.toByte, 'E'.toByte, 'L'.toByte, 'F'.toByte)) ||
        magic("#!".getBytes), lit("executable_payload")),
      // B8 url sanity: path-traversal patterns incl. single/double URL-encoded
      // forms (security_validator.py:337-347)
      when(lower(col("url")).rlike("""\.\./|\.\.\\|%2e%2e%2f|%2e%2e%5c|\.\.%252f|\.\.%255c"""),
        lit("path_traversal_url")),
      // "first non-whitespace byte is '<'": strip ALL leading whitespace plus a
      // UTF-8 BOM — ltrim alone strips only U+0020, misclassifying payloads that
      // start with \n, \t, \r\n, or a BOM. The binary→string CAST (not decode):
      // strict decode throws MALFORMED_CHARACTER_CODING on any non-UTF-8 payload
      // (real crawls are full of latin-1/binary), killing the task; the cast
      // wraps raw bytes and the regex engine substitutes U+FFFD lazily
      when(!is_pdf(col("html")) &&
        !(regexp_replace(substring(col("html"), 1, 64).cast("string"),
          "^[\\s\\uFEFF]+", "").startsWith("<")),
        lit("unknown_payload"))
    ))
  }

  /** Risk classification, keyword semantics per security_validator.py:474-492:
    * traversal/executable → critical, encrypted/suspicious → high,
    * >2 issues → medium, else low. */
  private def risk(reasons: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def anyContains(needle: String) =
      exists(reasons, r => r.contains(needle))
    when(anyContains("traversal") || anyContains("executable"), "critical")
      .when(anyContains("encrypted") || anyContains("suspicious"), "high")
      .when(size(reasons) > 2, "medium")
      .otherwise("low")
  }

  val BucketCol = BucketCommit.BucketCol

  def withBucket(df: DataFrame, nBuckets: Int): DataFrame =
    df.withColumn(BucketCol, BucketCommit.bucketOf(col("url"), nBuckets))

  /** Split input into (valid, quarantine). */
  def validate(pages: DataFrame, cfg: Config): (DataFrame, DataFrame) = {
    val withReasons = pages.withColumn("_reasons", validationReasons(cfg))
    val valid = withReasons.filter(size(col("_reasons")) === 0).drop("_reasons")
    val quarantine = withBucket(withReasons.filter(size(col("_reasons")) > 0), cfg.nBuckets)
      .select(
        col("url"),
        col(BucketCol),
        col("_reasons").as("reasons"),
        risk(col("_reasons")).as("risk"),
        sha2(col("html"), 256).as("payload_sha256"))
    (valid, quarantine)
  }

  /** Mode semantics: cli/visual skip rows with pre-existing text (skip_text=True,
    * ocr_combined.py:124-129); force recomputes everything (:130-135). */
  def modeFilter(valid: DataFrame, mode: String): (DataFrame, DataFrame) = {
    if (mode == "force") (valid, valid.limit(0))
    else (valid.filter(col("text").isNull), valid.filter(col("text").isNotNull))
  }

  /**
   * Extraction plan for the rows to process. The repartition key is
   * (host, salt): hosts are zipfian (a handful dominate the corpus), so
   * partitioning by host alone would put the head host's entire volume in one
   * task; the salt splits each host across `saltsPerHost` shuffle keys while
   * keeping same-host rows mostly co-located (useful for host-level politeness
   * and compression locality at the 100 TB tier).
   */
  def extract(toProcess: DataFrame, cfg: Config): DataFrame = {
    val saltExpr =
      if (cfg.freqAwareSalt) {
        // one sampled host-frequency pass → salt only the zipf head, keep the
        // tail fully co-located (SkewSalting)
        val parts = toProcess.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
        val salts = SkewSalting.headHostSalts(
          toProcess.withColumn("_host", url_host(col("url"))), col("_host"), parts)
        SkewSalting.saltColumn(col("url"), col("_host"), salts)
      } else pmod(xxhash64(col("url")), lit(cfg.saltsPerHost))
    val salted = toProcess
      .withColumn("_host", url_host(col("url")))
      .withColumn("_salt", saltExpr)
      .repartition(col("_host"), col("_salt"))
    // fused single-parse extraction with a per-row failure signal; withSpans
    // only controls whether the (wider) spans column is materialized
    val base = withBucket(salted, cfg.nBuckets)
      .withColumn("_doc", extract_doc(col("html")))
      .withColumn("text", col("_doc.text"))
      .withColumn("error_class", col("_doc.error"))
      .withColumn("spans",
        if (cfg.withSpans) col("_doc.spans")
        else array().cast("array<struct<page:int,x1:int,y1:int,x2:int,y2:int,word:string>>"))
    base
      .withColumn("text_sha256", text_digest(col("text")))
      .select(
        col("url"), col("warc_ts"), col("lang"), col(BucketCol),
        // C8 per-row status: a parse failure is NOT a silent empty doc
        when(col("error_class").isNotNull, "error").otherwise("extracted").as("status"),
        col("error_class"),
        col("text"), col("text_sha256"),
        length(col("text")).as("n_chars"),
        col("spans"),
        size(col("spans")).as("n_spans"),
        // pages are \f-separated in reconstructed text (Tesseract sidecar contract)
        (size(split(col("text"), "\f")) ).as("n_pages"))
  }

  /** Skipped rows carry their pre-existing text through unchanged. */
  def passThroughSkipped(skipped: DataFrame, cfg: Config): DataFrame =
    withBucket(skipped, cfg.nBuckets).select(
      col("url"), col("warc_ts"), col("lang"), col(BucketCol),
      lit("skipped").as("status"),
      lit(null).cast("string").as("error_class"),
      col("text"),
      text_digest(col("text")).as("text_sha256"),
      length(col("text")).as("n_chars"),
      array().cast("array<struct<page:int,x1:int,y1:int,x2:int,y2:int,word:string>>").as("spans"),
      lit(0).as("n_spans"),
      lit(1).as("n_pages"))

  /** The lineage log of a run's outDir (BucketCommit's format and reader). */
  def readLineage(spark: SparkSession, lineagePath: String): DataFrame =
    BucketCommit.readLineage(spark, lineagePath)

  final case class RunResult(
      extractedPath: String,
      lineagePath: String,
      quarantinePath: String,
      jobsPath: String,
      totalIn: Long,
      extracted: Long,
      skipped: Long,
      errors: Long,
      quarantined: Long,
      resumedBuckets: Int,
      snapshotId: String
  )

  /**
   * Full run with checkpoint-resume. Output layout under `outDir`:
   *   extracted/bucket=K/...parquet   (one dir per logical bucket)
   *   lineage/...parquet              (appended per run)
   *   quarantine/bucket=K/...parquet  (clustered: one writer per bucket)
   *
   * Resume: buckets already present in lineage (status=committed) are
   * filtered away (reference archive-dedup anti-join analog,
   * ocr_combined.py:147-157); their output dirs are left untouched, so an
   * interrupted run recomputes only missing buckets (FIXTURES.md invariant 4).
   */
  def run(spark: SparkSession, pages0: DataFrame, outDir: String, cfg: Config): RunResult = {
    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // removed on every exit: a crashed run (failAfterGroups, a task failure)
    // must not leave its listener tallying the session's later jobs
    val result =
      try commitRun(spark, pages0, outDir, cfg)
      finally spark.sparkContext.removeSparkListener(metrics)
    metrics.write(spark, cfg.runId, s"$outDir/metrics")
    result
  }

  private def commitRun(spark: SparkSession, pages0: DataFrame, outDir: String,
                        cfg: Config): RunResult = {
    val t0 = System.nanoTime()
    // empty-password recovery is a per-row payload rewrite ahead of the
    // validate/extract plan — undecryptable payloads pass through unchanged
    // and hit the usual "encrypted" quarantine gate. Gated on the PDF magic
    // so the (mostly non-PDF) corpus never enters the decrypt attempt at
    // all — tryDecrypt materializes a latin-1 String view (2 bytes/char) of
    // candidate payloads, which must stay a per-PDF cost, not a per-row one
    val pages =
      if (cfg.decryptPdfs)
        pages0.withColumn("html",
          when(graft.functions.is_pdf(col("html")),
            coalesce(graft.functions.pdf_decrypt(col("html")), col("html")))
            .otherwise(col("html")))
      else pages0
    val extractedPath = s"$outDir/extracted"
    val lineagePath = s"$outDir/lineage"
    val quarantinePath = s"$outDir/quarantine"
    val jobsPath = s"$outDir/jobs"
    val auditPath = s"$outDir/audit"

    // A12 audit log (database_manager.py:122-150): events buffer driver-side
    // and flush as parquet appends at durability points (after each group
    // commit and at run end) — a crash keeps every committed group's events
    import spark.implicits._
    var auditSeq = 0
    val auditBuf = scala.collection.mutable.ArrayBuffer.empty[graft.model.AuditRow]
    def audit(eventType: String, severity: String, message: String): Unit = {
      auditBuf += graft.model.AuditRow(cfg.runId, auditSeq, System.currentTimeMillis(),
        eventType, severity, message)
      auditSeq += 1
    }
    def flushAudit(): Unit = if (auditBuf.nonEmpty) {
      auditBuf.toSeq.toDF().write.mode(SaveMode.Append).parquet(auditPath)
      auditBuf.clear()
    }
    audit("run_start", "info", s"mode=${cfg.mode} nBuckets=${cfg.nBuckets} commitGroups=${cfg.commitGroups}")

    // B11 batch cap (config.py:56; enforcement security_validator.py:286-288):
    // the reference flags oversized batches with an issue + recommendation and
    // proceeds — mirrored as an audit warning, not a hard failure. limit(n+1)
    // early-exits the scan at the threshold instead of a full extra input pass
    // (a full count over a WARC-backed frame would decompress every archive).
    if (cfg.maxRowsPerRun > 0 && cfg.maxRowsPerRun < Int.MaxValue) {
      val probe = pages.select(lit(1).as("_one")).limit(cfg.maxRowsPerRun.toInt + 1).count()
      if (probe > cfg.maxRowsPerRun)
        audit("batch_too_large", "warning",
          s"input rows exceed maxRowsPerRun=${cfg.maxRowsPerRun}; " +
            "process in smaller runs or raise the cap")
    }

    // resume: buckets with committed lineage are done — gate every sink on
    // them. The done list is at most nBuckets entries, so the gates are isin
    // filters, which push below the extraction projection (PlanAuditSpec):
    // done buckets are never re-extracted
    val done = BucketCommit.doneBuckets(spark, lineagePath)
    if (done.nonEmpty)
      audit("resume", "info", s"${done.size} bucket(s) already committed; recomputing only the rest")

    val (valid, quarantine) = validate(pages, cfg)
    // the quarantine count comes from the write itself (an Observation on the
    // written frame), never from relisting the table this run just wrote. It
    // is observed above the rebalance exchange, in the write's result stage:
    // Spark applies a result task's metric once per partition, whereas every
    // successful attempt of a retried or speculative map task would count
    val quarantinedNow =
      if ((0 until cfg.nBuckets).forall(done)) 0L // no write: Observation.get would block
      else {
        val written = Observation()
        val todo =
          if (done.isEmpty) quarantine else quarantine.filter(!col(BucketCol).isin(done.toSeq: _*))
        BucketCommit.overwrite(
          BucketCommit.clustered(todo).observe(written, count(lit(1)).as("n")), quarantinePath)
        written.get("n").asInstanceOf[Long]
      }

    val (toProcess0, skipped) = modeFilter(valid, cfg.mode)
    val all = extract(toProcess0, cfg).unionByName(passThroughSkipped(skipped, cfg))

    // Commit groups: the checkpoint unit of a mid-job failure. A run killed
    // between group commits resumes with only the uncommitted groups
    // recomputed (north rule: checkpoint-resume of failed partitions without
    // recomputation). Trade-off: G groups ⇒ G input scans (the bucket filter
    // prunes extraction, not the scan); at the 100 TB tier pick G so a group
    // is O(1-4 TB). Lineage digest = sha256 of the url-sorted
    // "url\ttext_sha256" lines — the bucket-level golden fingerprint
    // (FIXTURES.md §4).
    def countOf(status: String) = sum(when(col("status") === status, 1L).otherwise(0L))
    BucketCommit.commit(all, extractedPath, lineagePath, cfg.runId,
      cfg.nBuckets, cfg.commitGroups, done,
      rowKey = concat_ws("\t", col("url"), col("text_sha256")),
      counts = Seq("ok_count" -> countOf("extracted"), "skipped_count" -> countOf("skipped"),
        "err_count" -> countOf("error")),
      // range-partitioned write (north rule): physical partitions are contiguous
      // (bucket, url) ranges, so each bucket dir holds url-sorted files — url
      // point/prefix reads touch one file, and parquet min/max url stats prune
      layout = _.repartitionByRange(col(BucketCol), col("url"))
        .sortWithinPartitions(col(BucketCol), col("url")),
      failAfterGroups = cfg.failAfterGroups,
      onGroup = (k, n, group) => {
        audit("group_commit", "info",
          s"group $k/$n: buckets ${group.min}..${group.max} (${group.size})")
        flushAudit() // durability point: committed groups' audit rows survive a crash
      })

    // one lineage read feeds the snapshot manifest over ALL committed buckets
    // (Iceberg-emulation commit record) and the counters (metadata-sized,
    // never a rescan of the output)
    val latest = BucketCommit.latestCommitted(spark, lineagePath)
      .select(col(BucketCol), col("row_count"), col("digest"),
        col("ok_count"), col("skipped_count"), col("err_count"))
      .collect()
    // next id = numeric successor of the LATEST snapshot, never the manifest
    // COUNT — after retention expiry the count shrinks and a count-derived id
    // would sort before kept snapshots, breaking the lexicographic-commit-order
    // contract (latestSnapshot would resolve to a stale run)
    val parent = CatalogIO.latestSnapshot(spark, extractedPath)
    val nextSeq = parent
      .flatMap(id => """snap-(\d+)""".r.findFirstMatchIn(id).map(_.group(1).toInt + 1))
      .getOrElse(0)
    val snapshotId = f"snap-$nextSeq%06d-${cfg.runId}"
    CatalogIO.writeSnapshot(spark, extractedPath, CatalogIO.Snapshot(
      snapshotId = snapshotId,
      runId = cfg.runId,
      parent = parent.getOrElse(""),
      createdUtcMs = System.currentTimeMillis(),
      buckets = latest.map(r =>
        CatalogIO.BucketEntry(r.getInt(0), r.getLong(1), r.getString(2))).toSeq.sortBy(_.bucket)))

    val nExtracted = latest.map(_.getLong(3)).sum
    val nSkipped = latest.map(_.getLong(4)).sum
    val nErrors = latest.map(_.getLong(5)).sum
    // a resume adds the done buckets' rows: a bucket-pruned count
    val q = quarantinedNow + (
      if (done.isEmpty) 0L
      else spark.read.schema(quarantine.schema).parquet(quarantinePath)
        .filter(col(BucketCol).isin(done.toSeq: _*)).count())
    val wallSec = (System.nanoTime() - t0) / 1e9

    // jobs table row (reference OCRJob analog, database_manager.py:42-84)
    val totalRows = nExtracted + nSkipped + nErrors + q
    Seq(graft.model.JobRow(
      run_id = cfg.runId, mode = cfg.mode,
      total_rows = totalRows,
      extracted = nExtracted, skipped = nSkipped, errors = nErrors, quarantined = q,
      wall_sec = wallSec,
      docs_per_sec = if (wallSec > 0) totalRows / wallSec else 0.0,
      status = "completed"
    )).toDF().write.mode(SaveMode.Append).parquet(jobsPath)

    audit("run_complete", "info",
      s"extracted=$nExtracted skipped=$nSkipped errors=$nErrors quarantined=$q snapshot=$snapshotId")
    flushAudit()

    RunResult(
      extractedPath, lineagePath, quarantinePath, jobsPath,
      totalIn = totalRows,
      extracted = nExtracted,
      skipped = nSkipped,
      errors = nErrors,
      quarantined = q,
      resumedBuckets = done.size,
      snapshotId = snapshotId)
  }

  /**
   * Retention job (F5, reference cleanup database_manager.py:537-568): expire
   * all but the newest `keepSnapshots` snapshot manifests and compact the
   * lineage log to the latest committed row per bucket
   * (BucketCommit.compactLineage — crash-safe, resume semantics kept).
   */
  def retention(spark: SparkSession, outDir: String, keepSnapshots: Int = 3): Unit = {
    CatalogIO.expireSnapshots(spark, s"$outDir/extracted", keepSnapshots)
    BucketCommit.compactLineage(spark, s"$outDir/lineage")
  }

  /** Per-run rollup joining jobs to lineage (reference job_summary view,
    * docker/init.sql:28-49): run_id, mode, totals, buckets committed. */
  def jobSummary(spark: SparkSession, outDir: String): DataFrame = {
    val jobs = spark.read.parquet(s"$outDir/jobs")
    val lin = readLineage(spark, s"$outDir/lineage")
      .groupBy(col("run_id"))
      .agg(count(lit(1)).as("buckets_committed"),
        sum("row_count").as("lineage_rows"),
        sum("ok_count").as("lineage_ok"),
        sum("skipped_count").as("lineage_skipped"))
    // errors ride along: the reference's job_summary view counts failed files
    // per job (docker/init.sql:28-49) — dropping the column hid every failure
    // from the one table an operator actually reads
    jobs.join(lin, Seq("run_id"), "left")
      .select(col("run_id"), col("mode"), col("total_rows"), col("extracted"),
        col("skipped"), col("errors"), col("quarantined"), col("buckets_committed"),
        col("lineage_rows"), col("docs_per_sec"), col("status"))
  }
}
