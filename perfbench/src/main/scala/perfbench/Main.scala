package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point: one workload in one process at local[nproc].
 *
 *   Main --workload extract|chain --seed N --seconds S --trace 0|1
 *        --t0-ms EPOCH_MS
 *
 * Set-up: session start, input generation from the seed repeated three
 * times, the workload's once-only preparation and one warm-up run.
 * `setup_s` is the wall time from `--t0-ms` (process start) to the timed
 * part, with the three input generations counted as their median. Then the
 * timed part repeats until S seconds of it have been measured, at least
 * twice; every run is checked.
 * Prints one line per metric and, last, one JSON object. Exits 1 when a
 * check failed.
 */
object Main {

  /** (name, unit) of every metric the benchmark reports, in print order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "docs_per_s" -> "docs/s", "out_bytes_per_doc" -> "B/doc", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "html.extract_us_per_doc" -> "us/doc", "html.links_us_per_doc" -> "us/doc",
    "pdf.text_us_per_doc" -> "us/doc", "pdf.spans_us_per_doc" -> "us/doc",
    "expr.extract_doc_s" -> "s",
    "sources.scan_s" -> "s", "sources.wet_write_s" -> "s", "sources.wet_bytes" -> "B",
    "sources.self_s" -> "s",
    "pipeline.plan_s" -> "s", "pipeline.quarantine_write_s" -> "s", "pipeline.extracted_write_s" -> "s",
    "pipeline.lineage_s" -> "s", "pipeline.snapshot_s" -> "s", "pipeline.resume_probe_s" -> "s",
    "pipeline.bookkeeping_s" -> "s", "pipeline.self_s" -> "s",
    "pipeline.input_scans" -> "count", "pipeline.rows_reextracted" -> "ratio",
    "pipeline.marker_quarantined" -> "count",
    "resume.docs_per_s" -> "docs/s", "resume.rows_reextracted" -> "ratio", "resume.input_scans" -> "count",
    "resume.resume_probe_s" -> "s", "resume.extracted_write_s" -> "s",
    "ops.frontier_s" -> "s", "ops.curate_s" -> "s", "ops.near_dup_s" -> "s", "ops.cc_s" -> "s",
    "ops.mix_s" -> "s", "ops.self_s" -> "s",
    "ops.candidate_pairs" -> "count", "ops.verified_pairs" -> "count", "ops.verify_yield" -> "ratio",
    "ops.components" -> "count", "ops.curate_kept_share" -> "ratio",
    "spark.exec_s" -> "s", "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.gc_s" -> "s", "spark.task_skew" -> "ratio",
    "spark.core_idle_share" -> "ratio", "spark.failed_tasks" -> "count",
    "tracing.overhead" -> "ratio", "tracing.unattributed_share" -> "ratio",
    "extract.eff_1_to_n" -> "ratio", "host.sentinel_docs_per_s" -> "docs/s",
    "failed_share" -> "ratio")

  private val PrepareReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wlName = a.getOrElse("workload", "")
    if (!Set("extract", "chain")(wlName) || !Seq("seed", "seconds", "trace", "t0-ms").forall(a.contains)) {
      System.err.println("usage: Main --workload extract|chain --seed N --seconds S --trace 0|1 --t0-ms EPOCH_MS")
      sys.exit(2)
    }
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val t0Ms = a("t0-ms").toLong
    val nproc = Runtime.getRuntime.availableProcessors
    val build = Paths.get(".bench_build").toAbsolutePath
    val work = build.resolve(s"work/$wlName-${ProcessHandle.current().pid()}").toString

    def session(cores: Int): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$wlName")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", build.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", build.resolve("warehouse").toString)
        .config("spark.sql.shuffle.partitions", (2 * nproc).toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val spark = session(nproc)

    val checks = new Checks
    val tracer = new Tracer(spark.sparkContext)
    val ctx = Ctx(seed, work, nproc, tracer, checks)
    val wl = Workload(wlName, ctx).get
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    try {
      val startup = (System.currentTimeMillis() - t0Ms) / 1e3
      // set-up is measured several times within a run where it can be (the
      // input generation) and counted by its median; the rest happens once
      val preps = (0 until PrepareReps).map { r =>
        if (r > 0) Disk.delete(s"$work/prep-${r - 1}")
        val t0 = System.nanoTime(); wl.prepare(s"$work/prep-$r"); secs(t0)
      }
      val tOnce = System.nanoTime(); wl.once(); val once = secs(tOnce)
      val tWarm = System.nanoTime(); wl.iteration(0, traced = false); val warm = secs(tWarm)
      val wall = (System.currentTimeMillis() - t0Ms) / 1e3
      metrics("setup_s") = wall - preps.sum + Workload.median(preps)
      System.err.println(f"setup: wall $wall%.2f s (startup $startup%.2f s, prepare " +
        f"${preps.map(p => f"$p%.2f").mkString("/")} s, once $once%.2f s, warm-up $warm%.2f s)")

      // raw nproc-thread extraction rate beside the timed part: a contended
      // host window shows here, not only as a slower docs_per_s
      val sentinel = graft.tools.RawSentinel.parallel(nproc, 1)
      // the timed part repeats until `seconds` of it are measured; traced
      // runs alternate untraced and traced parts (interleaved A/B)
      val plain = mutable.ArrayBuffer.empty[Iter]
      val traced = mutable.ArrayBuffer.empty[Iter]
      var k = 1
      while ((plain ++ traced).map(_.wallNs).sum < seconds * 1e9 ||
        plain.length < 2 || (trace && traced.length < 2)) {
        val on = trace && k % 2 == 0
        val t0 = System.nanoTime()
        val it = wl.iteration(k, traced = on)
        (if (on) traced else plain) += it
        System.err.println(f"run $k${if (on) " (traced)" else ""}: ${it.wallNs / 1e9}%.3f s " +
          f"(with checks ${secs(t0)}%.3f s)")
        k += 1
      }
      def dps(its: Seq[Iter]) = wl.docs / Workload.median(its.map(_.wallNs / 1e9))
      metrics("docs_per_s") = dps(plain.toSeq)
      metrics("out_bytes_per_doc") = Workload.median(plain.map(_.outBytes.toDouble).toSeq) / wl.docs
      metrics("host.sentinel_docs_per_s") = sentinel
      if (trace) {
        val perRun = traced.map(it => it.counts ++ Layers.fromTrace(it.traced.get, nproc, wl.inputTable))
        perRun.flatMap(_.keys).distinct.foreach { m =>
          metrics(m) = Workload.median(perRun.map(_.getOrElse(m, 0.0)).toSeq)
        }
        metrics("tracing.overhead") = dps(plain.toSeq) / dps(traced.toSeq) - 1.0
        metrics ++= Layers.inputProbes(spark, wl.inputTable)
        metrics ++= wl.probes()
        tracer.write(build.resolve(s"spans/$wlName.jsonl"))
        // the N→1 scaling figure: the same timed part on a local[1]
        // session of this JVM (warm JIT and codegen cache, like the local[n]
        // runs), against the local[n] median
        spark.stop()
        session(1)
        val one = wl.iteration(k, traced = false)
        metrics("extract.eff_1_to_n") = metrics("docs_per_s") / (nproc * wl.docs / (one.wallNs / 1e9))
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"benchmark aborted: $e")
        e.printStackTrace()
        checks.attempted += 1
        checks.failed += 1
    } finally {
      val t0 = System.nanoTime()
      SparkSession.active.stop()
      Disk.delete(work)
      System.err.println(f"teardown ${secs(t0)}%.3f s")
    }

    // a layer the workload does not exercise spent nothing on it
    if (trace) PerLayer.foreach { case (m, _) => metrics.getOrElseUpdate(m, 0.0) }
    metrics("peak_rss_mb") = peakRssMb()
    metrics("failed_share") = checks.failed.toDouble / math.max(1L, checks.attempted)
    val units = (EndToEnd ++ PerLayer).toMap
    val reported = if (trace) PerLayer.map(_._1) else EndToEnd.map(_._1)
    (EndToEnd.map(_._1) ++ Seq("failed_share", "host.sentinel_docs_per_s") ++ PerLayer.map(_._1)).distinct
      .filter(metrics.contains).foreach { m =>
        println(f"$m%-30s ${metrics(m)}%.6g ${units(m)}")
      }
    val json = reported.map { m =>
      val v = metrics.getOrElse(m, Double.NaN)
      s""""$m":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"${units(m)}"}"""
    }.mkString(",")
    val correct = checks.failed == 0 && checks.attempted > 0
    println(s"""{"correct":$correct,"attempted":${checks.attempted},"failed":${checks.failed},"metrics":{$json}}""")
    System.out.flush()
    System.err.flush()
    // Spark is stopped and the scratch dirs are gone: skip the JVM's
    // shutdown hooks, which only repeat that cleanup
    Runtime.getRuntime.halt(if (correct) 0 else 1)
  }

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(status).map(_.group(1).toDouble / 1024).getOrElse(0.0)
  }
}
