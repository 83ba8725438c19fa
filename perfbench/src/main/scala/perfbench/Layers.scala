package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.{extract_doc, text_digest}

/** The traced run's per-layer measurements. */
object Layers {

  /** Self time of the plan-building calls in `body` (the span's
    * duration minus the Spark executions it submits), median of 3. */
  def planProbe(ctx: Ctx)(body: => Any): Double = {
    val t = ctx.tracer
    Workload.median((1 to 3).map { i =>
      val r = t.iteration(s"plan-probe-$i", "plan-probe", traced = true, (_, _, _) => "")(body)
      val tr = r.traced.get
      tr.calls.map(c => Tracer.selfNs(c, tr.subs.filter(_.parent == c.id))).sum / 1e9
    })
  }

  /** Single-thread µs per item of `f`, no Spark: one warm pass, then passes
    * until 0.5 s has been measured. 0 when the workload has no such input. */
  def usPerDoc[T](items: IndexedSeq[T])(f: T => Any): Double = {
    if (items.isEmpty) return 0.0
    var sink = 0
    def pass(): Unit = items.foreach(x => sink += f(x).hashCode)
    pass()
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L) { pass(); n += items.length }
    if (sink == 42) println("")
    (System.nanoTime() - t0) / 1e3 / n
  }

  /** Wall seconds of writing `df` to the noop sink, median of 3. */
  def noopSeconds(df: => DataFrame): Double =
    Workload.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })

  /** Parser, expression and scan probes over a workload's input table. */
  def inputProbes(spark: SparkSession, table: String): Map[String, Double] = {
    val rows = spark.read.parquet(table).select("url", "html").limit(3000).collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    val pdfs = rows.map(_._2).filter(graft.pdf.PdfExtract.isPdfMagic).toIndexedSeq
    val html = rows.filter { case (_, b) =>
      val s = new String(b, 0, math.min(b.length, 64), "ISO-8859-1").dropWhile(_.isWhitespace)
      s.startsWith("<")
    }.toIndexedSeq
    Map(
      "html.extract_us_per_doc" -> usPerDoc(html)(d => graft.html.HtmlExtract.extract(d._2)),
      "html.links_us_per_doc" -> usPerDoc(html)(d => graft.html.HtmlLinks.extractWithText(d._2, d._1)),
      "pdf.text_us_per_doc" -> usPerDoc(pdfs)(graft.pdf.PdfExtract.text),
      "pdf.spans_us_per_doc" -> usPerDoc(pdfs)(graft.pdf.PdfExtract.spans),
      "expr.extract_doc_s" -> noopSeconds(spark.read.parquet(table)
        .select(text_digest(extract_doc(col("html")).getField("text")))),
      "sources.scan_s" -> noopSeconds(spark.read.parquet(table).select(col("html"))))
  }

  private val CallMetric = Map(
    "FrontierPipeline.runJob" -> "ops.frontier_s",
    "CurationPipeline.runJob" -> "ops.curate_s",
    "CurationOps.tokenBudgetMix" -> "ops.mix_s",
    "WetSink.write" -> "sources.wet_write_s")

  /** Layer metrics of one traced timed part. */
  def fromTrace(tr: Traced, nproc: Int, inputTable: String): Map[String, Double] = {
    val byParent = tr.subs.groupBy(_.parent)
    def kids(s: Span) = byParent.getOrElse(s.id, Nil)
    val labelled = tr.subs.filter(s => s.label.nonEmpty)
      .groupMapReduce(_.label + "_s")(_.durNs / 1e9)(_ + _)
    val calls = tr.calls.map { c =>
      CallMetric.get(c.name).map(_ -> c.durNs / 1e9).toSeq ++
        (if (c.name == "DedupOps.dropNearDupsCC")
          Seq("ops.near_dup_s" -> (c.durNs - Tracer.selfNs(c, kids(c))) / 1e9,
            "ops.cc_s" -> Tracer.selfNs(c, kids(c)) / 1e9)
        else Nil)
    }.flatten.toMap
    val selfByLayer = tr.calls.groupMapReduce(_.layer + ".self_s")(c => Tracer.selfNs(c, kids(c)) / 1e9)(_ + _)
    val rootKids = tr.calls.filter(_.parent == tr.root.id)
    val covered = Tracer.covered(tr.root.startNs, tr.root.endNs, rootKids.map(c => (c.startNs, c.endNs)))
    val execS = tr.subs.filter(s => s.kind == "exec" && tr.calls.exists(_.id == s.parent)).map(_.durNs).sum / 1e9
    val scans = tr.plans.map(_.linesIterator.count(l => l.contains("Location:") && l.contains(inputTable))).sum
    val t = tr.totals
    val wallMs = tr.root.durNs / 1e6
    labelled ++ calls ++ selfByLayer ++ Map(
      "pipeline.input_scans" -> scans.toDouble,
      "spark.exec_s" -> execS,
      "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "spark.spill_bytes" -> t.spill.toDouble,
      "spark.gc_s" -> t.gcMs / 1e3,
      "spark.task_skew" -> t.taskSkew,
      "spark.core_idle_share" -> (1.0 - t.runMs / (nproc * wallMs)),
      "spark.failed_tasks" -> t.failedTasks.toDouble,
      "tracing.unattributed_share" -> (1.0 - covered.toDouble / tr.root.durNs))
  }
}
