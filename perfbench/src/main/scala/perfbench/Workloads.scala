package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.{Corpus, CorpusGen}
import graft.functions.url_host
import graft.model.PageRow
import graft.ops.{CurationOps, DedupOps, FrontierOps}
import graft.pipeline.{CatalogIO, CurationPipeline, ExtractPipeline, FrontierPipeline}
import graft.sources.WetSink

final case class Ctx(seed: Long, work: String, nproc: Int, tracer: Tracer, checks: Checks)

/** One timed part: wall time, bytes left in its output dirs, the tracer's
  * view (traced parts only) and workload counters. */
final case class Iter(wallNs: Long, outBytes: Long, traced: Option[Traced],
                      counts: Map[String, Double])

/** A workload: inputs from the seed, an untimed preparation, and a timed
  * part that is checked after every run. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** input docs of the timed part (the docs/s numerator) */
  def docs: Long
  /** builds the inputs under `dir`; run several times, the last build is used */
  def prepare(dir: String): Unit
  /** once-only preparation after the last build (golden truth, the chain's text) */
  def once(): Unit = ()
  def iteration(k: Int, traced: Boolean): Iter
  /** the input table, for the scan and projection probes */
  def inputTable: String
  /** per-layer probes of the traced run that are not spans of the timed part */
  def probes(): Map[String, Double]
  /** layer label of a Spark execution submitted by `call` */
  def classify(call: Span, x: TraceListener.Exec, wroteBefore: Boolean): String = ""

  /** the active session: the traced run ends on a local[1] session */
  protected def spark: SparkSession = SparkSession.active
  protected def iterDir(k: Int): String = {
    Disk.delete(s"${ctx.work}/iter-${k - 1}")
    s"${ctx.work}/iter-$k"
  }
  protected def timed[T](k: Int, traced: Boolean)(body: => T): Timed[T] =
    ctx.tracer.iteration(s"$name-$k", s"timed:$name", traced, classify)(body)
}

object Workload {
  def apply(name: String, ctx: Ctx): Option[Workload] = name match {
    case "extract" => Some(new ExtractWorkload(ctx))
    case "chain" => Some(new ChainWorkload(ctx))
    case _ => None
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/**
 * `extract`: a fresh force-mode ExtractPipeline.run, one commit group, spans
 * on, over a Corpus.pages table read from parquet. The traced run adds the
 * crash-resume probe: the same table with 4 commit groups, crashed after 2
 * (the public failAfterGroups hook) and rerun to the final snapshot.
 */
final class ExtractWorkload(ctx0: Ctx) extends Workload(ctx0) {
  val name = "extract"
  val docs: Long = ExtractWorkload.Pages

  private var pagesDir = ""
  private var golden: Map[String, ExtractWorkload.Golden] = Map.empty
  /** bucket → (rows, digest) every complete run must commit, from the golden digests */
  private var expectedLineage: Map[Int, (Long, String)] = Map.empty

  def inputTable: String = pagesDir

  private def run(out: String, runId: String, groups: Int = 1,
                  failAfter: Option[Int] = None): ExtractPipeline.RunResult =
    ExtractPipeline.run(spark, spark.read.parquet(pagesDir), out, ExtractPipeline.Config(
      mode = "force", commitGroups = groups, failAfterGroups = failAfter, withSpans = true,
      runId = runId))

  def prepare(dir: String): Unit = {
    pagesDir = s"$dir/pages"
    Corpus.pages(spark, docs, ctx.seed, 2 * ctx.nproc).write.parquet(pagesDir)
  }

  override def once(): Unit = {
    golden = ExtractWorkload.goldenDigests(spark, docs, ctx.seed, 2 * ctx.nproc,
      ExtractPipeline.Config().nBuckets)
    expectedLineage = ExtractWorkload.expectedLineage(golden.values)
  }

  def iteration(k: Int, traced: Boolean): Iter = {
    val out = iterDir(k)
    val runId = s"timed-$k"
    val t = timed(k, traced) {
      ctx.tracer.call("pipeline", "ExtractPipeline.run")(run(out, runId))
    }
    val bytes = Disk.bytes(out)
    checkOutputs(out, t.value)
    Iter(t.wallNs, bytes, t.traced, Map(
      "pipeline.rows_reextracted" -> reextracted(out, runId),
      "pipeline.marker_quarantined" -> golden.values.count(_.kind == ExtractWorkload.MarkedPdf).toDouble))
  }

  /** rows the run `runId` extracted, as a share of the input rows */
  private def reextracted(out: String, runId: String): Double =
    spark.read.parquet(s"$out/lineage").filter(col("run_id") === runId)
      .agg(coalesce(sum("row_count"), lit(0L))).head().getLong(0).toDouble / docs

  private def checkOutputs(out: String, r: ExtractPipeline.RunResult): Unit = {
    val c = ctx.checks
    val got = spark.read.parquet(s"$out/extracted").select("url", "status", "text_sha256")
      .collect().map(x => x.getString(0) -> (x.getString(1), x.getString(2))).toMap
    val reasons = spark.read.parquet(s"$out/quarantine").select("url", "reasons")
      .collect().map(x => x.getString(0) -> x.getSeq[String](1)).toMap
    val quarantined = reasons.keySet
    val bad = golden.values.toSeq.flatMap { g =>
      val url = g.url
      val ok =
        if (g.kind == ExtractWorkload.MarkedPdf)
          reasons.get(url).exists(_.contains("suspicious_pdf_action")) && !got.contains(url)
        else if (g.digest == null) quarantined(url) && !got.contains(url)
        else got.get(url).contains(("extracted", g.digest)) && !quarantined(url)
      if (ok) None else Some(s"$url (${g.kind}): got ${got.get(url)} quarantined=${quarantined(url)}")
    } ++ (got.keySet ++ quarantined -- golden.keySet).toSeq.map(u => s"$u: not an input url")
    c.many(golden.size, bad, "per-url text_sha256 equals the golden CorpusGen digest")
    c(s"extracted + skipped + errors + quarantined = input rows (${r.extracted}+${r.skipped}+" +
      s"${r.errors}+${r.quarantined} vs $docs)")(
      r.extracted + r.skipped + r.errors + r.quarantined == docs)
    // an uninterrupted run commits exactly the golden lineage, so after a
    // resume these say the resumed run equals an uninterrupted one
    c("per-bucket lineage digests equal the golden ones")(
      ExtractWorkload.latestLineage(spark, out) == expectedLineage)
    c("snapshot bucket list equals the golden lineage")(
      ExtractWorkload.snapshot(spark, out).map(b => b._1 -> (b._2, b._3)).toMap == expectedLineage)
  }

  /** Writes in ExtractPipeline.run are named by their table dir; reads
    * before the run's first write are the resume probe; the lineage read
    * that builds the manifest (it carries the digests) is the snapshot. */
  override def classify(call: Span, x: TraceListener.Exec, wroteBefore: Boolean): String =
    if (call.name != "ExtractPipeline.run") ""
    else if (x.plan.contains("InsertIntoHadoopFsRelationCommand"))
      ExtractWorkload.WriteDir.findFirstMatchIn(x.plan).map(_.group(1)) match {
        case Some("quarantine") => "pipeline.quarantine_write"
        case Some("extracted") => "pipeline.extracted_write"
        case Some("lineage") => "pipeline.lineage"
        case _ => "pipeline.bookkeeping"
      }
    else if (!wroteBefore) "pipeline.resume_probe"
    else if (x.plan.contains("/lineage") && x.plan.contains("digest")) "pipeline.snapshot"
    else "pipeline.bookkeeping"

  def probes(): Map[String, Double] = {
    val cfg0 = ExtractPipeline.Config(mode = "force")
    val planS = Layers.planProbe(ctx) {
      val pages = spark.read.parquet(pagesDir)
      val (valid, _) = ctx.tracer.call("pipeline", "ExtractPipeline.validate")(ExtractPipeline.validate(pages, cfg0))
      ctx.tracer.call("pipeline", "ExtractPipeline.extract")(ExtractPipeline.extract(valid, cfg0))
    }
    Map("pipeline.plan_s" -> planS) ++ resumeProbe()
  }

  /** Crash a 4-group run after 2 groups, then time and trace the rerun
    * that resumes it; the rerun must equal an uninterrupted run. */
  private def resumeProbe(): Map[String, Double] = {
    val out = s"${ctx.work}/resume"
    val crashed =
      try { run(out, "crash", groups = 4, failAfter = Some(2)); false }
      catch { case e: IllegalStateException if e.getMessage.startsWith("injected failure") => true }
    ctx.checks("failAfterGroups = Some(2) stops a 4-group run after 2 commit groups")(crashed)
    val committed = ExtractPipeline.readLineage(spark, s"$out/lineage").select("bucket").distinct().count()
    val t = ctx.tracer.iteration("resume", "timed:resume", traced = true, classify) {
      ctx.tracer.call("pipeline", "ExtractPipeline.run")(run(out, "resume", groups = 4))
    }
    checkOutputs(out, t.value)
    ctx.checks(s"the rerun skips the $committed buckets committed before the crash " +
      s"(got ${t.value.resumedBuckets})")(t.value.resumedBuckets == committed && committed > 0)
    val layers = Layers.fromTrace(t.traced.get, ctx.nproc, pagesDir)
    Map("resume.docs_per_s" -> docs / (t.wallNs / 1e9),
      "resume.rows_reextracted" -> reextracted(out, "resume"),
      "resume.input_scans" -> layers("pipeline.input_scans"),
      "resume.resume_probe_s" -> layers.getOrElse("pipeline.resume_probe_s", 0.0),
      "resume.extracted_write_s" -> layers.getOrElse("pipeline.extracted_write_s", 0.0))
  }
}

object ExtractWorkload {
  /** input docs of `extract` */
  val Pages = 6000L

  /** the table a write command targets, from its formatted plan */
  val WriteDir = """Arguments: file:[^,\s]*/(\w+),""".r

  /** The validator's active-content markers (PdfExtract.preflight, after
    * the reference security_validator): a PDF carrying one of them in its
    * first MiB of raw bytes is quarantined by contract, also when the
    * marker is only a byte pattern inside a compressed stream. */
  val Markers: Seq[String] = Seq("/JavaScript", "/OpenAction", "/Launch", "/AA")

  val MarkedPdf = "pdf_with_marker_bytes"

  /** One input row's expected outcome: `digest` is the sha256 of
    * CorpusGen's by-construction text, null where the validator must
    * quarantine the row (the quarantine kinds, and PDFs whose raw bytes
    * carry a marker); `bucket` is the row's logical bucket. */
  final case class Golden(url: String, kind: String, digest: String, bucket: Int)

  def goldenDigests(spark: SparkSession, n: Long, seed: Long, par: Int,
                    nBuckets: Int): Map[String, Golden] = {
    import spark.implicits._
    spark.range(0, n, 1, par).as[Long].mapPartitions(_.map { i =>
      val p = CorpusGen.page(i, seed)
      val head = new String(p.html, 0, math.min(p.html.length, 1 << 20), "ISO-8859-1")
      val marked = p.kind == "pdf" && Markers.exists(m => head.contains(m))
      (p.url, if (marked) MarkedPdf else p.kind,
        if (p.expected == null || marked) null else Disk.sha256Hex(p.expected))
    }).toDF("url", "kind", "digest")
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(nBuckets)).cast("int"))
      .as[Golden].collect().map(g => g.url -> g).toMap
  }

  /** The lineage contract: per bucket, the row count and the sha256 of the
    * url-sorted, newline-joined "url\ttext_sha256" lines of its rows. */
  def expectedLineage(golden: Iterable[Golden]): Map[Int, (Long, String)] =
    golden.filter(_.digest != null).groupBy(_.bucket).map { case (b, gs) =>
      b -> (gs.size.toLong, Disk.sha256Hex(gs.map(g => s"${g.url}\t${g.digest}").toSeq.sorted.mkString("\n")))
    }

  /** bucket → (row count, digest) of each bucket's latest committed lineage row */
  def latestLineage(spark: SparkSession, out: String): Map[Int, (Long, String)] =
    ExtractPipeline.readLineage(spark, s"$out/lineage").filter(col("status") === "committed")
      .select("bucket", "committed_utc_ms", "row_count", "digest").collect()
      .groupBy(_.getInt(0)).map { case (b, rows) =>
        val r = rows.maxBy(_.getLong(1))
        b -> (r.getLong(2), r.getString(3))
      }

  /** (bucket, row count, digest) of the latest snapshot manifest */
  def snapshot(spark: SparkSession, out: String): Seq[(Int, Long, String)] = {
    val table = s"$out/extracted"
    val id = CatalogIO.latestSnapshot(spark, table).getOrElse(return Nil)
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$table/_manifests/$id.json")), "UTF-8")
    """\{"bucket":(\d+),"row_count":(\d+),"digest":"([0-9a-f]+)"\}""".r.findAllMatchIn(body)
      .map(m => (m.group(1).toInt, m.group(2).toLong, m.group(3))).toSeq
  }
}

/**
 * `chain`: the post-extraction drives over the dup-heavy crawl of
 * ChainGen. Preparation extracts the crawl's text with ExtractPipeline.run;
 * the timed part runs one frontier round, curation, cluster near-dup
 * removal, the token-budget mix and the WET export, in that order.
 */
final class ChainWorkload(ctx0: Ctx) extends Workload(ctx0) {
  val name = "chain"
  private var crawl: ChainGen.Crawl = _
  def docs: Long = crawl.docs.length.toLong
  private var crawlDir = ""
  private var docsDir = ""
  private var funnelTruth: Array[Long] = Array.empty
  private var curatedTruth: Set[Long] = Set.empty
  private var wetDigest = ""
  private val Budget = 400000L
  private val RunTs = "2026-01-01T00:00:00Z"
  private def weights = crawl.hosts.map(_ -> 1000L / ChainGen.NumHosts)

  def inputTable: String = crawlDir

  def prepare(dir: String): Unit = {
    crawl = ChainGen.build(ctx.seed)
    crawlDir = s"$dir/crawl"
    val s = spark
    import s.implicits._
    crawl.docs.map(d => PageRow(d.url, new Timestamp(1700000000000L + d.id * 1000L), d.html, null, "eng"))
      .toDF().repartition(2 * ctx.nproc).write.parquet(crawlDir)
  }

  /** the extracted text the chain starts from, by ExtractPipeline.run */
  override def once(): Unit = {
    val s = spark
    import s.implicits._
    docsDir = s"${ctx.work}/docs"
    val r = ExtractPipeline.run(spark, spark.read.parquet(crawlDir), s"${ctx.work}/extract",
      ExtractPipeline.Config(mode = "force", runId = "prepare"))
    val ext = spark.read.parquet(s"${r.extractedPath}").select("url", "status", "text_sha256")
      .collect().map(x => x.getString(0) -> (x.getString(1), x.getString(2))).toMap
    val bad = crawl.docs.flatMap { d =>
      if (ext.get(d.url).contains(("extracted", Disk.sha256Hex(d.text)))) None
      else Some(s"${d.url}: got ${ext.get(d.url)}")
    }
    ctx.checks.many(crawl.docs.length, bad, "crawl text_sha256 equals the planted page text")
    crawl.docs.map(d => (d.id, d.url)).toDF("id", "url")
      .join(spark.read.parquet(r.extractedPath).select("url", "text"), "url")
      .select("id", "url", "text").write.parquet(docsDir)
    val (funnel, curated) = ChainGen.curationTruth(crawl)
    funnelTruth = funnel
    curatedTruth = curated
  }

  private def mixInput(df: DataFrame): DataFrame =
    df.withColumn("_dom", lower(url_host(col("url"))))
      .withColumn("_cost", size(split(col("text"), " +")).cast("long"))

  def iteration(k: Int, traced: Boolean): Iter = {
    val out = iterDir(k)
    val tr = ctx.tracer
    val t = timed(k, traced) {
      val fr = tr.call("ops", "FrontierPipeline.runJob") {
        FrontierPipeline.runJob(spark, spark.read.parquet(crawlDir), s"$out/frontier", "url", "html",
          runId = s"frontier-$k")
      }
      val cur = tr.call("ops", "CurationPipeline.runJob") {
        CurationPipeline.runJob(spark, spark.read.parquet(docsDir), s"$out/curate", "text", "id", "url",
          hostCapK = crawl.capK, gates = Set.empty, runId = s"curate-$k")
      }
      val curated = spark.read.parquet(cur.curatedPath).select("id", "url", "text")
      val deduped = tr.call("ops", "DedupOps.dropNearDupsCC") {
        DedupOps.dropNearDupsCC(curated, "text", "id").localCheckpoint()
      }
      val mixed = tr.call("ops", "CurationOps.tokenBudgetMix") {
        CurationOps.tokenBudgetMix(mixInput(deduped), "id", "_dom", "_cost", weights, Budget).localCheckpoint()
      }
      val wet = tr.call("sources", "WetSink.write")(WetSink.write(mixed, s"$out/wet", RunTs))
      (fr, cur, deduped, mixed, wet)
    }
    val (fr, cur, deduped, mixed, (_, records)) = t.value
    val bytes = Disk.bytes(s"$out/frontier", s"$out/curate", s"$out/wet")
    val c = ctx.checks
    val targets = spark.read.parquet(fr.frontierPath).select("url").collect().map(_.getString(0))
    c(s"frontier targets are the planted link set (${targets.length} vs ${crawl.frontier.size})")(
      targets.length == fr.nTargets && targets.map(ChainGen.canonical).toSet == crawl.frontier &&
        targets.length == crawl.frontier.size)
    c(s"curation funnel equals the planted truth (${cur.funnel.mkString(",")} vs ${funnelTruth.mkString(",")})")(
      cur.funnel.sameElements(funnelTruth))
    val curatedIds = spark.read.parquet(cur.curatedPath).select("id").collect().map(_.getLong(0)).toSet
    c("curated ids are the planted survivors of url/exact dedup and the host cap")(curatedIds == curatedTruth)
    val mixRows = mixInput(deduped).select("id", "_dom", "_cost").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val keptIds = mixRows.map(_._1).toSet
    val keptTruth = ChainGen.dedupTruth(crawl, curatedIds)
    c(s"cluster dedup keeps one id per planted cluster (${keptIds.size} vs ${keptTruth.size})")(
      keptIds == keptTruth)
    val admitted = mixed.select("id").collect().map(_.getLong(0)).toSet
    c(s"token-budget mix admits the budget prefix of every domain (${admitted.size} docs)")(
      admitted == ChainSupport.mixTruth(mixRows, weights.toMap, Budget) && admitted.nonEmpty)
    c(s"WET records equal admitted docs ($records vs ${admitted.size})")(records == admitted.size)
    val digest = Disk.digest(s"$out/wet", ".warc.wet.gz")
    if (wetDigest.isEmpty) wetDigest = digest
    c("WET bytes are identical across runs")(digest == wetDigest)
    val f = cur.funnel
    Iter(t.wallNs, bytes, t.traced, Map(
      "ops.curate_kept_share" -> f.last.toDouble / f.head,
      "sources.wet_bytes" -> Disk.bytes(s"$out/wet").toDouble))
  }

  def probes(): Map[String, Double] = {
    val planS = Layers.planProbe(ctx) {
      ctx.tracer.call("ops", "FrontierOps.frontier")(
        FrontierOps.frontier(spark.read.parquet(crawlDir), "url", "html"))
      ctx.tracer.call("pipeline", "CurationPipeline.run")(
        CurationPipeline.run(spark.read.parquet(docsDir), "text", "id", "url",
          hostCapK = crawl.capK, gates = Set.empty))
    }
    // pair counts of the near-dup stage over the last run's curated output
    val curated = spark.read.parquet(
      new java.io.File(ctx.work).listFiles().filter(_.getName.startsWith("iter-"))
        .maxBy(_.getName.stripPrefix("iter-").toInt).getPath + "/curate/curated")
      .select("id", "url", "text")
    val candidates = DedupOps.nearDupPairs(curated, "text", "id", 0.5).count()
    val pairs = DedupOps.verifiedNearDupPairs(curated, "text", "id").localCheckpoint()
    val verified = pairs.count()
    val components = DedupOps.connectedComponents(pairs).select("component").distinct().count()
    Map("pipeline.plan_s" -> planS,
      "ops.candidate_pairs" -> candidates.toDouble,
      "ops.verified_pairs" -> verified.toDouble,
      "ops.verify_yield" -> (if (candidates > 0) verified.toDouble / candidates else 0.0),
      "ops.components" -> components.toDouble)
  }
}

object ChainSupport {
  private def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** tokenBudgetMix's contract: per domain, rows in (splitmix64(id ^ seed),
    * id) order, admitted while the running cost stays within
    * budget · permille / 1000. */
  def mixTruth(rows: Seq[(Long, String, Long)], weights: Map[String, Long], budget: Long,
               seed: Long = 0x5eedL): Set[Long] =
    rows.groupBy(_._2).toSeq.flatMap { case (dom, rs) =>
      weights.get(dom).toSeq.flatMap { w =>
        val target = budget * w / 1000L
        var cum = 0L
        rs.sortBy(r => (splitmix64(r._1 ^ seed), r._1))
          .takeWhile { r => cum += math.max(r._3, 0L); cum <= target }.map(_._1)
      }
    }.toSet
}
