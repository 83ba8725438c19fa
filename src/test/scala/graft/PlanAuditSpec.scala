package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan audits (SURVEY.md §4): the scale properties the engine relies on
 * must be visible in the plan, not assumed — filter pushdown to the parquet scan,
 * column pruning, broadcast joins for small dims, and whole-stage codegen over
 * the extraction expressions.
 */
class PlanAuditSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def planString(df: DataFrame): String = {
    val p = df.queryExecution.executedPlan
    val resolved = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    resolved.toString
  }

  test("mode filter (text IS NULL) is pushed to the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("plan-audit").toString
    fixtures.Corpus.pages(spark, 200).write.parquet(s"$dir/pages")
    val pages = spark.read.parquet(s"$dir/pages")
    val (toProcess, _) = pipeline.ExtractPipeline.modeFilter(pages, "cli")
    val s = toProcess.queryExecution.executedPlan.toString
    assert(s.contains("PushedFilters: [IsNull(text)]"), s)
  }

  test("broadcast join used for small dimension (orders x customer)") {
    val df = SparkEntry.queries("q02_join_broadcast_segment")(spark, sf)
    val s = planString(df.groupBy().count()) // force final plan materialization shape
    val s2 = planString(df)
    assert(s2.contains("BroadcastHashJoin") || s.contains("BroadcastHashJoin"), s2)
  }

  test("multi-join rollup broadcasts both dims, no sort-merge join") {
    val s = planString(SparkEntry.queries("q05_region_rollup")(spark, sf))
    assert(s.contains("BroadcastHashJoin"))
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("column pruning: simhash query reads only (doc_id, text)") {
    val s = planString(SparkEntry.queries("q14_simhash")(spark, sf))
    val scanLine = s.linesIterator.find(_.contains("ReadSchema")).getOrElse(fail(s))
    assert(scanLine.contains("doc_id") && scanLine.contains("text"), scanLine)
    assert(!scanLine.contains("n_chars") && !scanLine.contains("source"), scanLine)
  }

  test("doc_id-derived fixture queries prune the scan to doc_id only") {
    // q101/q102/q105/q106 synthesize every payload from doc_id — a scan
    // that also reads text (the corpus's dominant bytes) would pay the
    // whole table for a key-only query at 100 TB
    Seq("q101_cdx", "q102_surt", "q105_crawl_delay", "q106_fetch_schedule",
        "q110_pub_date").foreach { q =>
      val s = planString(SparkEntry.queries(q)(spark, sf))
      val scanLine = s.linesIterator.find(_.contains("ReadSchema")).getOrElse(fail(s"$q: $s"))
      assert(scanLine.contains("doc_id"), s"$q: $scanLine")
      assert(!scanLine.contains("text") && !scanLine.contains("n_chars"),
        s"$q scan reads pruned columns: $scanLine")
    }
    // q103 needs exactly its mixing inputs: id, domain, cost — never text
    val s103 = planString(SparkEntry.queries("q103_token_mix")(spark, sf))
    val scan103 = s103.linesIterator.find(_.contains("ReadSchema")).getOrElse(fail(s103))
    assert(scan103.contains("doc_id") && scan103.contains("source") &&
      scan103.contains("n_chars") && !scan103.contains("text"), scan103)
  }

  test("string-output extraction expressions run inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("plan-audit2").toString
    fixtures.Corpus.pages(spark, 50).write.parquet(s"$dir/pages")
    val df = spark.read.parquet(s"$dir/pages")
      .select(graft.functions.extract_any_text(col("html")).as("t"),
        graft.functions.text_digest(graft.functions.extract_any_text(col("html"))).as("d"))
    val s = planString(df)
    // the Project carrying our expressions must be inside a WholeStageCodegen stage:
    // formatted-plan marks codegen'd operators with an asterisk
    val projLine = s.linesIterator.find(l => l.contains("Project") && l.contains("extractanytext")).getOrElse(
      s.linesIterator.find(_.contains("Project")).getOrElse(fail(s)))
    assert(projLine.trim.startsWith("*"), s"Project not codegen'd:\n$s")
    df.count() // and the generated code actually compiles + runs
  }

  test("bucket filter pushes below the extraction projection (commit-group pruning)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("plan-audit3").toString
    fixtures.Corpus.pages(spark, 50).write.parquet(s"$dir/pages")
    val pages = spark.read.parquet(s"$dir/pages")
    val extracted = pipeline.ExtractPipeline.extract(pages, pipeline.ExtractPipeline.Config())
    val filtered = extracted.filter(col(pipeline.ExtractPipeline.BucketCol).isin(1, 2, 3))
    val plan = filtered.queryExecution.optimizedPlan.toString
    // after pushdown the predicate is re-expressed on xxhash64(url) and no longer
    // sits above the extraction Project — extraction must not run for pruned buckets
    val lines = plan.linesIterator.toList
    val filterIdx = lines.indexWhere(l => l.contains("Filter") && l.toLowerCase.contains("xxhash64"))
    val projIdx = lines.indexWhere(l => l.toLowerCase.contains("extractdoc") || l.toLowerCase.contains("extractanytext"))
    assert(filterIdx >= 0, plan)
    assert(projIdx >= 0, plan)
    assert(filterIdx > projIdx, s"filter (line $filterIdx) should be BELOW extraction project (line $projIdx):\n$plan")
  }

  private def exchanges(plan: String): Seq[String] =
    plan.linesIterator.filter(l => l.contains("Exchange ") && !l.contains("ReusedExchange")).toSeq

  test("BucketCommit.clustered plans exactly one rebalance exchange on bucket") {
    import org.apache.spark.sql.functions._
    val rows = spark.range(0, 100, 1, 4)
      .withColumn(pipeline.BucketCommit.BucketCol, pmod(col("id"), lit(8)).cast("int"))
    val ex = exchanges(pipeline.BucketCommit.clustered(rows).queryExecution.executedPlan.toString)
    assert(ex.size == 1, ex.mkString("\n"))
    assert(ex.head.contains("hashpartitioning(bucket#") &&
      ex.head.contains("REBALANCE_PARTITIONS_BY_COL"), ex.head)
  }

  test("extracted write: rangepartitioning(bucket, url) is the only exchange above extraction") {
    val dir = java.nio.file.Files.createTempDirectory("plan-audit-write").toString
    fixtures.Corpus.pages(spark, 50).write.parquet(s"$dir/pages")
    val (_, writes) = tableWrites("metrics")(
      pipeline.ExtractPipeline.run(spark, spark.read.parquet(s"$dir/pages"), s"$dir/out",
        pipeline.ExtractPipeline.Config(mode = "force", runId = "audit-0")))
    val plans = writes.collect { case ("extracted", qe) => qe.executedPlan.toString }
    assert(plans.size == 1, writes.map(_._1))
    val lines = plans.head.linesIterator.toList
    val extraction = lines.indexWhere(_.toLowerCase.contains("extractdoc"))
    assert(extraction >= 0, lines.mkString("\n"))
    val above = exchanges(lines.take(extraction).mkString("\n"))
    assert(above.size == 1, lines.mkString("\n"))
    assert(above.head.contains("rangepartitioning(bucket#") && above.head.contains("url#"), above.head)
  }

  test("partial aggregation (map-side combine) present in groupBy plans") {
    val s = planString(SparkEntry.queries("q01_agg_pricing")(spark, sf))
    // two HashAggregate nodes (partial + final) around the exchange
    assert("HashAggregate".r.findAllIn(s).size >= 2, s)
  }

  test("image-dHash dedup action is the one-shuffle map-side-combinable groupBy shape") {
    // the q71 comment claims the dedup ACTION at scale is q12's exact-dedup
    // shape on the dhash key: partial+final HashAggregate around ONE
    // exchange — pin that a CodegenFallback expression in the grouping key
    // does not defeat map-side combine
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = (1L to 64L).map(i => (i,
      graft.media.ImageEncode.bmpVStripes(18, 16, (i % 7).toInt, (200, 150, 100), (10, 30, 5))))
      .toDF("doc_id", "payload")
    val dedup = docs.groupBy(graft.functions.image_dhash(col("payload")).as("dhash"))
      .agg(min(col("doc_id")).as("keeper"))
    val s = planString(dedup)
    assert("HashAggregate".r.findAllIn(s).size >= 2, s)
    assert("Exchange".r.findAllIn(s).size == 1, s)
  }

  test("minhash near-dup scans the corpus text ONCE (fused sig+bands + materialization)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("plan-audit-minhash").toString
    spark.range(500).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 10).map(i => md5(concat(col("id"), lit(i)))): _*).as("text"))
      .write.parquet(s"$dir/docs")
    val docs = spark.read.parquet(s"$dir/docs")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val pairs =
      try {
        val p = ops.DedupOps.nearDupPairs(docs, "text", "doc_id", 0.5)
        awaitCount(math.min(jobs.get(), 1).toLong, Some(1L)) // at least 1 job
        awaitCount(jobs.get().toLong) // allow any EXTRA construction-time jobs to surface
        p
      } finally spark.sparkContext.removeSparkListener(listener)
    // construction runs exactly ONE job — the localCheckpoint materialization
    // of the fused (id, sig, bands) frame, i.e. the single text-hashing scan
    assert(jobs.get() == 1, s"expected 1 construction job (the fused scan), got ${jobs.get()}")
    // ...and the returned plan hangs entirely off the checkpointed RDD: the
    // band join and both signature attachments can never re-read the file
    val s = pairs.queryExecution.executedPlan.toString
    assert(!s.contains("FileScan"), s.take(2000))
    assert(s.contains("ExistingRDD") || s.contains("Scan ExistingRDD"), s.take(2000))
    pairs.count() // and it still computes
  }

  test("simhash multi-table self-join reuses ONE exchange when too big to broadcast") {
    // at fixture scale AQE broadcasts the build side (recomputing the subtree
    // is cheaper than a shuffle); the one-shuffle ReusedExchange shape is the
    // AT-SCALE plan, so pin it with both broadcast thresholds disabled
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val oldAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q32_simhash_near_dups")(spark, sf)
      df.collect() // finalize THIS df's adaptive plan (count() would execute a different one)
      val s = planString(df)
      assert(s.contains("ReusedExchange"), s.take(3000))
      // exactly ONE real _key exchange; the other join side is the reuse
      // (line-anchored: the ReusedExchange line itself names the original)
      val shuffles = s.linesIterator.count(
        _.dropWhile(!_.isLetter).startsWith("Exchange hashpartitioning(_key"))
      assert(shuffles == 1, s"expected 1 corpus shuffle, got $shuffles:\n${s.take(3000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      oldAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("q31 band self-join filters the key count from below: singleton keys never join") {
    // LshCandidates.selfJoin claims the cap window's key count also drops
    // one-member keys (they cannot yield an a < b pair) before the self-join:
    // the count filter must bound the key size from BOTH sides
    val s = planString(SparkEntry.queries("q31_near_dup_pairs")(spark, sf))
    val filter = "Filter .*\\(_bsize#(\\d+)L >= 2\\) AND \\(_bsize#\\1L <= 8192\\)".r
    assert(filter.findFirstIn(s).nonEmpty, s"no two-sided key-count filter:\n${s.take(4000)}")
  }

  test("duplicated-span stats explode the corpus ONCE (window attach, not a gram join)") {
    // the join formulation rebuilds scan+explode under BOTH join inputs (the
    // partial aggregate beneath one exchange defeats ReusedExchange); the
    // window-attach shape must show exactly one explode of the gram array
    val s = planString(SparkEntry.queries("q54_dup_spans")(spark, sf))
    val explodes = s.linesIterator.count(_.contains("Generate explode"))
    assert(explodes == 1, s"expected 1 corpus explode, got $explodes:\n${s.take(3000)}")
    assert(s.contains("Window"), s.take(3000))
  }

  test("dsir weights: ratio table broadcast, corpus gram exchange built once") {
    val df = SparkEntry.queries("q57_dsir_weights")(spark, sf)
    df.collect() // finalize THIS df's adaptive plan
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"), s.take(3000))
    // the (bucket, doc) pair aggregate feeds both the per-bucket totals and
    // the final attach — its exchange must be reused, not rebuilt
    assert(s.contains("ReusedExchange"), s.take(3000))
    assert(!s.contains("CartesianProduct"), s.take(2000))
  }

  test("embedding-LSH build phase runs its bucket/window pipeline exactly once") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = java.nio.file.Files.createTempDirectory("plan-audit-lsh").toString
    spark.range(300).select(col("id").as("vec_id"),
        array((0 until 16).map(i => (rand(i) * 2 - 1).cast("float")): _*).as("embedding"))
      .write.parquet(s"$dir/emb")
    val emb = spark.read.parquet(s"$dir/emb")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val pairs =
      try {
        // approxRows passed ⇒ no sizing count. Construction jobs: the dim
        // probe (1) + the eager narrow localCheckpoint, which under AQE
        // decomposes into the cap-window shuffle map stage and the result
        // job (2). A FOURTH job is a regression — the round-4 failure was an
        // rdd.getNumPartitions probe under AQE that EXECUTED the
        // posexplode+cap-window stages once more before the checkpoint ran
        // them again.
        val p = ops.SimilarityOps.embeddingNearDupPairs(
          emb, "embedding", "vec_id", threshold = 0.9, approxRows = 300)
        awaitCount(math.min(jobs.get(), 2).toLong, Some(2L)) // at least 2 jobs
        awaitCount(jobs.get().toLong) // allow any EXTRA construction-time jobs to surface
        p
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 3,
      s"expected ≤3 construction jobs (dim probe + AQE-staged checkpoint), got ${jobs.get()}")
    // the candidate join hangs off the checkpointed RDD, never the file
    val s = planString(pairs)
    assert(s.contains("ExistingRDD") || s.contains("Scan ExistingRDD"), s.take(2000))
    pairs.count() // and it still computes
  }

  test("hostCap: zipf-head host routes through the salted two-level windows, not one task") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // zipf-ish fixture: one head host with 3000 docs, a tail of small hosts —
    // the shape where a single row_number window puts the whole head host
    // into ONE task's sort (the extraction pipeline salts exactly this key)
    val docs = ((1L to 3000L).map(i => (i, "head.example")) ++
      (3001L to 3300L).map(i => (i, s"tail${i % 30}.example"))).toDF("doc_id", "host")
    val k = 25
    val capped = ops.CurationOps.hostCap(docs, "host", "doc_id", k, saltBuckets = 8)
    // result set identical to the naive single-window form
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("host")).orderBy(col("doc_id"))
    val naive = docs.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val got = capped.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == naive)
    // plan shape: the heavy branch windows over (host, salt) BEFORE the final
    // host-only rank, and the light branch reaches the union with NO window
    val s = planString(capped)
    assert(s.contains("_hcsalt"), s.take(3000))
    assert(s.contains("BroadcastHashJoin"), s.take(3000))
    // exactly TWO window nodes in the whole plan — both on the heavy branch
    // (salted rank, then final rank over the salted remnant); the light
    // branch contributes none, so tail-host rows never enter any sort
    val nWindows = "(?m)^\\s*[+:]?-* ?Window ".r.findAllIn(s).size
    assert(nWindows == 2, s"expected 2 Window nodes, saw $nWindows:\n${s.take(3000)}")
  }

  test("semDedup: one cluster-id shuffle feeds the windows AND both join sides") {
    // the Scaladoc claims the rank windows and the pair join shuffle ONCE on
    // the cluster id — with broadcast off, the self-join's second side must be
    // a ReusedExchange of the windowed subtree, never a rebuilt corpus scan
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val oldAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      val docs = (1L to 200L).map(i =>
        (i, Seq(math.cos(i * 0.1), math.sin(i * 0.1), (i % 7) / 7.0))).toDF("id", "v")
      val centroids = Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0))
      val kept = ops.SimilarityOps.semDedup(docs, "v", "id", centroids, eps = 0.999)
      kept.collect() // finalize the adaptive plan
      val s = planString(kept)
      assert(s.contains("ReusedExchange"), s.take(3000))
      val clShuffles = s.linesIterator.count(
        _.dropWhile(!_.isLetter).startsWith("Exchange hashpartitioning(_cl"))
      assert(clShuffles == 1, s"expected 1 cluster-id shuffle, got $clShuffles:\n${s.take(3000)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
      oldAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("perplexityBuckets: the cutoff window runs over histogram COUNTS, not documents") {
    import spark.implicits._
    val scored = (1L to 500L).map(i => (i, s"l${i % 3}", (i % 40) / 10.0))
      .toDF("doc_id", "lang", "ce_nats")
    val out = ops.CurationOps.perplexityBuckets(scored, "ce_nats", "lang")
    val s = planString(out)
    // the Window node's subtree must contain the groupBy(lang, score)
    // aggregate — i.e. an aggregation happens BELOW the window, so the sort
    // the window needs is over distinct score values, never corpus rows
    val lines = s.linesIterator.toList
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0, s.take(3000))
    val aggBelow = lines.drop(winIdx).exists(_.contains("HashAggregate"))
    assert(aggBelow, s"no aggregate below the Window:\n${s.take(3000)}")
  }

  test("frontier: the page payload is scanned ONCE (one explode feeds all three extractors)") {
    // FrontierOps claims the anchor/refresh/feed extractors project into one
    // array column exploded once — a per-kind union would rescan the payload
    // relation three times
    val dir = java.nio.file.Files.createTempDirectory("plan-audit-frontier").toString
    import spark.implicits._
    val pages = Seq(
      ("https://a.example/", "<html><body><a href=\"/x\">x</a></body></html>".getBytes("UTF-8"))
    ).toDF("url", "payload")
    pages.write.parquet(s"$dir/pages")
    val onDisk = spark.read.parquet(s"$dir/pages")
    val df = ops.FrontierOps.frontier(onDisk, "url", "payload")
    df.collect()
    val s = planString(df)
    val scans = "Scan parquet".r.findAllIn(s).length
    assert(scans == 1, s"frontier plan scans the pages relation $scans times:\n$s")
    assert("Generate explode".r.findAllIn(s).length <= 1, s)
  }

  test("tokenBudgetMix plan: two-level shape — the corpus-sized window is bucket-parallel") {
    // the op claims the only window over the BIG frame is partitioned by
    // (domain, bucket) — `buckets`-way parallel — and the per-domain
    // (serial) window runs over the |domains|·buckets bucket-sum frame only
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = spark.range(2000).select(col("id").as("doc_id"),
      concat(lit("d"), (col("id") % 3).cast("string")).as("dom"),
      (col("id") % 7 + 1).as("cost"))
    val df = ops.CurationOps.tokenBudgetMix(docs, "doc_id", "dom", "cost",
      Seq("d0" -> 500L, "d1" -> 500L), budget = 1000L)
    val s = planString(df)
    val nWindows = "(?m)windowspecdefinition\\(".r.findAllIn(s).size
    assert(nWindows == 2, s"expected 2 window specs, saw $nWindows:\n${s.take(3000)}")
    // the running-sum window keys on BOTH the domain and the bucket column
    assert("windowspecdefinition\\(dom[#0-9L]*, _bkt".r.findAllIn(s).nonEmpty,
      s"big-frame window not (domain, bucket)-partitioned:\n${s.take(3000)}")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s.take(2000))
  }

  test("hostProfile plan: two-phase distinct shape, partial aggregation, digests not text") {
    // the scaladoc claims exactly two exchanges (per (host,digest) then per
    // host), map-side partials, and no text column past the first project
    val df = ops.CurationOps.hostProfile(
      spark.read.parquet(s"$sf/documents.parquet")
        .selectExpr("concat('https://h', doc_id % 3, '.example/p') AS url", "text"),
      "url", "text")
    val s = planString(df)
    val nEx = "(?m)Exchange hashpartitioning".r.findAllIn(s).size
    assert(nEx == 2, s"expected 2 exchanges, saw $nEx:\n${s.take(3000)}")
    assert("partial_".r.findAllIn(s).nonEmpty, s"no partial aggregation:\n${s.take(3000)}")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s.take(2000))
  }

  test("incremental dedup plan: batch text hashed once, corpus never rescanned") {
    // dedupAgainstIndex claims the new batch is minhashed exactly once (the
    // localCheckpointed signature frame feeds the exact arm, the band explode,
    // and the signature attach) and that classification reads only the NARROW
    // committed index — the corpus text relation must not appear in the plan
    val s = planString(SparkEntry.queries("q98_dedup_incremental")(spark, sf))
    assert(!s.contains("documents.parquet"),
      s"q98 plan rescans the corpus text relation:\n${s.take(3000)}")
    // parquet scans in the final plan are index reads only: the digest
    // pre-aggregate, the band explode, and the signature attach
    val scans = "Scan parquet".r.findAllIn(s).length
    assert(scans <= 3, s"q98 plan scans parquet $scans times:\n${s.take(3000)}")
  }

  test("bm25 plan: ranking reads the inverted file, never re-tokenizes the corpus") {
    // q99 ranks against the COMMITTED inverted file (Bm25.indexFor), so the
    // ranking plan must hold NO corpus text scan — stats, df, and the
    // candidate join all read the narrow (doc, term, tf, dl) table — and the
    // query-term/df attaches must be broadcast HASH joins (the two global
    // scalars fold in as plan literals via one bounded single-row collect)
    val s = planString(SparkEntry.queries("q99_bm25_topk")(spark, sf))
    assert(!s.contains("documents.parquet"),
      s"q99 plan re-tokenizes the corpus:\n${s.take(3000)}")
    assert(s.contains("BroadcastHashJoin"), s.take(3000))
  }

  test("quality-keeper dedup: the bounded losers side broadcasts, never sort-merges") {
    // dropNearDupsCC(qualityCol) claims (r08): when CC resolved via the
    // local path, the losers frame is bounded by localThreshold ids and is
    // broadcast-hinted — without the hint the attach-join + rank window hid
    // its size and the final anti-join fell to SortMergeJoin, re-running the
    // window subtree once per union arm with a full corpus-side id exchange
    val s = planString(SparkEntry.queries("q104_dedup_cc_keeper")(spark, sf))
    assert(!s.contains("SortMergeJoin LeftAnti"),
      s"q104 anti-join degraded to sort-merge:\n${s.take(3000)}")
    assert("BroadcastHashJoin .*LeftAnti".r.findFirstIn(s).nonEmpty,
      s"q104 anti-join is not a broadcast hash join:\n${s.take(3000)}")
  }

  test("no cartesian products in any LSH/dedup/ANN candidate plan") {
    // every near-dup/ANN path must join on bucket keys — a cross join in any
    // of these plans is the exact scale failure the LSH machinery exists to
    // prevent (q16 is the documented exact baseline and is exempt)
    val bucketJoined = Seq("q13_minhash_near_dups", "q28_ann_lsh_bucketed",
      "q31_near_dup_pairs", "q32_simhash_near_dups", "q33_verified_near_dups",
      "q34_embedding_near_dups", "q37_ann_ivf", "q41_embedding_dedup_cc",
      "q47_decontaminate", "q51_line_dedup", "q70_lm_filter", "q72_image_near_dups",
      "q80_semdedup", "q81_remove_dup_spans", "q83_host_pagerank", "q84_ppl_buckets",
      "q98_dedup_incremental", "q99_bm25_topk", "q103_token_mix",
      "q104_dedup_cc_keeper")
    bucketJoined.foreach { q =>
      val s = planString(SparkEntry.queries(q)(spark, sf))
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        s"$q plan contains a cross join:\n${s.take(2000)}")
    }
  }
}
