package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class CurationPipelineSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  // passes every gate: 60 words over 6 terminal-punctuated ≥3-word lines,
  // required stop words present, all-alpha, sane word lengths
  private def goodText(tag: String): String =
    (1 to 6).map(i => s"the quick brown fox of host $tag jumps over dog$i.").mkString("\n")

  test("funnel stages compose conditionally; curated output survives all gates") {
    val docs = Seq(
      (1L, "http://a.example/x?utm_source=t", goodText("a1")),
      (2L, "http://a.example/x", goodText("a2")),              // url-dup of 1 → dropped at stage 2
      (3L, "http://b.example/y", goodText("a1")),              // exact text dup of 1 → dropped at stage 3
      (4L, "http://c.example/z", "too short to pass"),         // quality drop
      (5L, "http://d.example/w", goodText("d5")),
      (6L, "http://d.example/v", goodText("d6"))               // host cap 1 → dropped at stage 5
    ).toDF("id", "url", "text")
    val r = CurationPipeline.run(docs, "text", "id", "url", hostCapK = 1)
    val f = r.funnel.collect().head
    assert(f.getLong(0) == 6)
    assert(f.getLong(1) == 5, "one canonical-url dup dropped")
    assert(f.getLong(2) == 4, "one exact dup dropped among url survivors")
    assert(f.getLong(3) == 3, "low-quality doc dropped")
    assert(f.getLong(4) == 2, "host d capped at 1")
    assert(f.getLong(5) == 2, "samplePct=100 keeps all host survivors")
    val kept = r.curated.select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L))
  }

  test("url-dup loser must not shadow the digest keeper (conditional windows)") {
    // doc 2 is a url-dup of doc 1 AND has the same text as doc 3: doc 3 must
    // survive exact dedup (the dup check runs among URL SURVIVORS only)
    val docs = Seq(
      (1L, "http://a.example/x", goodText("one")),
      (2L, "http://a.example/x?utm_source=t", goodText("three")),
      (3L, "http://b.example/y", goodText("three"))
    ).toDF("id", "url", "text")
    val f = CurationPipeline.run(docs, "text", "id", "url").funnel.collect().head
    assert(f.getLong(1) == 2 && f.getLong(2) == 2, "doc 3 survives: its dup lost at the url stage")
  }

  test("line dedup rewrites only the final survivors' text") {
    val shared = "the quick brown fox of shared line jumps over it." // survives quality in both docs
    val docs = Seq(
      (1L, "http://a.example/1", shared + "\n" + goodText("p1")),
      (2L, "http://b.example/2", shared + "\n" + goodText("p2"))
    ).toDF("id", "url", "text")
    val r = CurationPipeline.run(docs, "text", "id", "url")
    val byId = r.curated.collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(byId(1L).startsWith(shared), "first occurrence keeps the shared line")
    assert(!byId(2L).contains(shared), "second occurrence loses it")
    assert(byId(2L).nonEmpty, "the rest of doc 2 survives")
  }

  test("funnel reads the checkpointed narrow flags — no corpus rescan, no per-stage count") {
    val docs = (1L to 40L).map(i => (i, s"http://h${i % 4}.example/$i", goodText(s"t$i")))
      .toDF("id", "url", "text")
    val funnel = CurationPipeline.run(docs, "text", "id", "url").funnel
    val plan = funnel.queryExecution.executedPlan.toString
    // every stage count derives from the eager narrow checkpoint: the funnel
    // plan scans the materialized RDD, never the input table (no text/url
    // recompute — digest/quality/window flags were computed exactly once)
    assert(plan.contains("ExistingRDD"), plan.take(3000))
    assert(!plan.contains("LocalTableScan"), plan.take(3000))
    assert(!plan.contains("sha2"), plan.take(3000))
    // stage counts are flag sums + the cap-survivor count joined into one
    // row — still no count() action per stage (a single collect yields all 6)
    assert(funnel.columns.toSeq == Seq("n_docs", "n_after_url_dedup",
      "n_after_exact_dedup", "n_after_quality", "n_after_host_cap", "n_curated"))
  }

  test("optional CCNet LM gate drops off-target docs at the quality stage") {
    val onTarget = goodText("lm") // stopword-heavy, target-like
    val offTarget = (1 to 10).map(i => s"zq$i xv$i wk$i qq$i jj$i vv$i").mkString(". ") +
      " the of and that have with be to over dog." // passes Gopher, alien bigrams
    val docs = Seq(
      (1L, "http://a.example/1", onTarget),
      (2L, "http://b.example/2", offTarget)).toDF("id", "url", "text")
    val target = Seq(onTarget, goodText("t2"), goodText("t3")).toDF("t")
    // calibrate the threshold between the two scores (at fixture scale the
    // +B smoothing floor dominates absolute values; the ORDER is the signal)
    val ces = graft.ops.CurationOps.lmCrossEntropy(docs, "text", "id", target, "t")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(ces(1L) < ces(2L), s"target-like must score lower: $ces")
    val without = CurationPipeline.run(docs, "text", "id", "url",
      gates = Set("gopher")).funnel.collect().head
    val withLm = CurationPipeline.run(docs, "text", "id", "url",
      gates = Set("gopher"), lmTarget = Some((target, "t")),
      lmMaxCeNats = (ces(1L) + ces(2L)) / 2)
    val f = withLm.funnel.collect().head
    assert(without.getLong(3) == 2, "both pass Gopher alone")
    assert(f.getLong(3) == 1, "LM gate drops the off-target doc")
    assert(withLm.curated.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("LM gate is neutral on docs too short to score (<2 tokens)") {
    // a one-token doc has n_bigrams = 0 — the LM model cannot judge it, so
    // the LM gate must not kill it; the length gates own that judgment
    // (with gates = Set() nothing else gates, so survival isolates the LM)
    val docs = Seq(
      (1L, "http://a.example/1", "solo"),
      (2L, "http://b.example/2", goodText("lmx"))).toDF("id", "url", "text")
    val target = Seq(goodText("t1"), goodText("t2")).toDF("t")
    val r = CurationPipeline.run(docs, "text", "id", "url",
      gates = Set(), lmTarget = Some((target, "t")), lmMaxCeNats = 100.0)
    assert(r.curated.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("optional CCNet terciles attach ppl_bucket to curated survivors") {
    // nine survivors with distinct LM scores -> exactly three per tercile;
    // the best-scoring (most target-like) docs land in head
    val texts = (1 to 9).map(i => goodText(s"v$i") +
      (" zq" * i)) // progressively more alien bigrams = higher cross-entropy
    val docs = texts.zipWithIndex.map { case (t, i) =>
      ((i + 1).toLong, s"http://h${i + 1}.example/x", t) }.toDF("id", "url", "text")
    val target = Seq(goodText("t1"), goodText("t2"), goodText("t3")).toDF("t")
    val r = CurationPipeline.run(docs, "text", "id", "url",
      gates = Set(), lmTarget = Some((target, "t")), lmMaxCeNats = 100.0,
      pplTerciles = true)
    val rows = r.curated.select("id", "ppl_bucket").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(rows.size == 9)
    assert(rows.values.toSeq.sorted.groupBy(identity).view.mapValues(_.size).toMap ==
      Map("head" -> 3, "middle" -> 3, "tail" -> 3))
    // bucketing must follow the scores: re-derive them and compare tiers
    val ces = graft.ops.CurationOps.lmCrossEntropy(
        docs.select(col("id"), graft.ops.CurationOps.normalizeText(col("text")).as("text")),
        "text", "id", target.select(graft.ops.CurationOps.normalizeText(col("t")).as("t")), "t")
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    val byScore = rows.keys.toSeq.sortBy(ces)
    assert(byScore.take(3).forall(rows(_) == "head"), s"$ces / $rows")
    assert(byScore.takeRight(3).forall(rows(_) == "tail"), s"$ces / $rows")
    // and the column is absent when the stage is off
    val off = CurationPipeline.run(docs, "text", "id", "url", gates = Set())
    assert(!off.curated.columns.contains("ppl_bucket"))
  }

  test("langFromText: classifier lang rides the curated output and keys the terciles") {
    // two language families, LM gates off: the classifier must label the
    // curated rows, and with terciles on the head/middle/tail split must run
    // PER LANGUAGE (CCNet's contract), not over one global pool
    // score spreaders stay IN-LANGUAGE (off-target bigrams raise the LM
    // cross-entropy monotonically in i without flipping the classifier)
    val en = (1 to 6).map(i => goodText(s"en$i") + (" jolly walrus whimsy" * i))
    val de = (1 to 6).map(i =>
      ((1 to 6).map(j => s"der schnelle braune fuchs von wirt g$i springt über hund$j.").mkString("\n")) +
        (" seltsames walross wunder" * i))
    // plus one uncovered-script (Greek) doc: the classifier must refuse it
    // ('und') and the terciles must EXCLUDE it (NULL ppl_bucket) — an
    // unknown-language tercile pool would mix incomparable scripts
    val und = Seq("οι μαθητές διαβάζουν πολλά βιβλία στη βιβλιοθήκη κάθε μέρα")
    val docs = (en ++ de ++ und).zipWithIndex.map { case (t, i) =>
      ((i + 1).toLong, s"http://h${i + 1}.example/x", t) }.toDF("id", "url", "text")
    val target = Seq(goodText("t1"), "der schnelle braune fuchs springt über den faulen hund.")
      .toDF("t")
    val r = CurationPipeline.run(docs, "text", "id", "url",
      gates = Set(), lmTarget = Some((target, "t")), lmMaxCeNats = 100.0,
      pplTerciles = true, langFromText = true)
    val rows = r.curated.select("id", "lang", "ppl_bucket").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2)))
    assert(rows.length == 13)
    val langs = rows.map(r0 => r0._1 -> r0._2).toMap
    assert((1L to 6L).forall(langs(_) == "en"), langs.toString)
    assert((7L to 12L).forall(langs(_) == "de"), langs.toString)
    assert(langs(13L) == "und", langs.toString)
    assert(rows.find(_._1 == 13L).get._3 == null, "und row must have NULL ppl_bucket")
    // per-language terciles: each 6-doc language pool splits 2/2/2
    Seq(1L to 6L, 7L to 12L).foreach { ids =>
      val tiers = rows.filter(r0 => ids.contains(r0._1)).map(_._3)
      assert(tiers.sorted.toSeq == Seq("head", "head", "middle", "middle", "tail", "tail"),
        tiers.mkString(","))
    }
    // without terciles, lang still rides the output
    val noTier = CurationPipeline.run(docs, "text", "id", "url",
      gates = Set(), langFromText = true)
    assert(noTier.curated.columns.contains("lang"))
    assert(!noTier.curated.columns.contains("ppl_bucket"))
  }

  test("image-dedup stage: same composition at two resolutions keeps min id; non-images pass") {
    // docs 1 and 2 render the SAME stripe pattern at different resolutions
    // (dHash is resolution-invariant) → doc 1 keeps; doc 3 is a different
    // pattern; doc 4's payload is not an image (NULL dhash passes)
    val img = (p: Int, w: Int, h: Int) =>
      graft.media.ImageEncode.bmpVStripes(w, h, p, (200, 150, 100), (10, 30, 5))
    val docs = Seq(
      (1L, "http://h1.example/a", goodText("a1"), img(5, 18, 16)),
      (2L, "http://h2.example/b", goodText("b2"), img(5, 36, 32)),
      (3L, "http://h3.example/c", goodText("c3"), img(9, 18, 16)),
      (4L, "http://h4.example/d", goodText("d4"), "not an image".getBytes("UTF-8"))
    ).toDF("id", "url", "text", "payload")
    val r = CurationPipeline.run(docs, "text", "id", "url",
      gates = Set(), imagePayloadCol = Some("payload"))
    val funnel = r.funnel.collect().head
    assert(r.funnel.columns.toSeq.contains("n_after_image_dedup"))
    assert(funnel.getAs[Long]("n_after_exact_dedup") == 4L)
    assert(funnel.getAs[Long]("n_after_image_dedup") == 3L)
    val ids = r.curated.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 4L), ids.toString)
    // off by default: no extra column
    val off = CurationPipeline.run(docs, "text", "id", "url", gates = Set())
    assert(!off.funnel.columns.contains("n_after_image_dedup"))
  }

  test("semDedup stage: verdict equals the standalone op; funnel column appears") {
    val dim = 8
    def v(axis: Int, eps: Double): Seq[Float] =
      (0 until dim).map(d => if (d == axis) 1.0f else eps.toFloat)
    val docs = Seq(
      (1L, "http://h1.example/a", goodText("a1"), v(0, 0.0)),
      (2L, "http://h2.example/b", goodText("b2"), v(0, 0.001)), // ~dup of 1
      (3L, "http://h3.example/c", goodText("c3"), v(4, 0.0))
    ).toDF("id", "url", "text", "emb")
    val centroids = Seq(v(0, 0.0).map(_.toDouble), v(4, 0.0).map(_.toDouble))
    val r = CurationPipeline.run(docs, "text", "id", "url",
      gates = Set(), semDedup = Some(("emb", centroids, 0.99)))
    val funnel = r.funnel.collect().head
    assert(funnel.getAs[Long]("n_after_semdedup") == 2L)
    val ids = r.curated.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L), ids.toString)
    // the pipeline's verdict must be the op's verdict
    val direct = graft.ops.SimilarityOps.semDedup(
      docs.select(col("id"), col("emb")), "emb", "id", centroids, 0.99, keeper = "min_id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == direct)
  }

  test("spanDedup stage: corpus-duplicated token windows vanish from curated text") {
    val boiler = (1 to 15).map(i => s"boilerplate$i").mkString(" ")
    val docs = Seq(
      (1L, "http://h1.example/a", goodText("a1") + " " + boiler),
      (2L, "http://h2.example/b", goodText("b2") + " " + boiler),
      (3L, "http://h3.example/c", goodText("c3"))
    ).toDF("id", "url", "text")
    val r = CurationPipeline.run(docs, "text", "id", "url",
      gates = Set(), spanDedup = true)
    val texts = r.curated.select("id", "text").collect()
      .map(x => (x.getLong(0), x.getString(1))).toMap
    assert(texts.size == 3)
    assert(!texts(1L).contains("boilerplate7"), texts(1L))
    assert(!texts(2L).contains("boilerplate7"), texts(2L))
    assert(texts(3L).nonEmpty && !texts(3L).contains("boilerplate"))
    // without the stage the boilerplate stays
    val off = CurationPipeline.run(docs, "text", "id", "url", gates = Set())
    val offTexts = off.curated.select("id", "text").collect()
      .map(x => (x.getLong(0), x.getString(1))).toMap
    assert(offTexts(1L).contains("boilerplate7"))
  }

  test("crash between commit groups resumes to byte-identical curated output (§5.3)") {
    val docs = (1L to 120L).map(i =>
      (i, s"http://h${i % 9}.example/$i", goodText(s"c$i"))).toDF("id", "url", "text")
    def digests(outDir: String): Map[Int, Seq[(Long, String)]] =
      spark.read.parquet(s"$outDir/curated")
        .select(col("bucket"), col("id"), sha2(encode(col("text"), "UTF-8"), 256).as("d"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq).toMap

    val clean = java.nio.file.Files.createTempDirectory("curate-clean").toString
    CurationPipeline.runJob(spark, docs, clean, "text", "id", "url",
      nBuckets = 8, commitGroups = 4)

    val crashed = java.nio.file.Files.createTempDirectory("curate-crash").toString
    intercept[IllegalStateException] {
      CurationPipeline.runJob(spark, docs, crashed, "text", "id", "url",
        nBuckets = 8, commitGroups = 4, failAfterGroups = Some(2))
    }
    val partial = spark.read.parquet(s"$crashed/curated")
      .select(col("bucket")).distinct().count()
    assert(partial >= 2 && partial < 8, "crash left a strict subset of buckets")

    val resumed = CurationPipeline.runJob(spark, docs, crashed, "text", "id", "url",
      nBuckets = 8, commitGroups = 4, runId = "curate-1")
    assert(resumed.resumedBuckets >= 2 && resumed.resumedBuckets < 8,
      "second run skipped the committed buckets")
    assert(digests(crashed) == digests(clean),
      "resumed output must be byte-identical to the uninterrupted run")
  }

  test("runJob whose gates drop every doc commits an empty curated table") {
    val docs = (1L to 30L).map(i => (i, s"http://h$i.example/", "too short")).toDF("id", "url", "text")
    val out = java.nio.file.Files.createTempDirectory("curate-empty").toString
    val r = CurationPipeline.runJob(spark, docs, out, "text", "id", "url", nBuckets = 4)
    assert(r.funnel.last == 0L, r.funnel.mkString(","))
    val lin = spark.read.parquet(r.lineagePath).select("bucket", "row_count", "digest")
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getString(2))).toSet
    assert(lin == (0 until 4).map(b => (b, 0L, BucketCommit.EmptyDigest)).toSet, lin)
    val parts = Option(new java.io.File(r.curatedPath).listFiles()).getOrElse(Array.empty)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array(d))).filter(_.getName.endsWith(".parquet"))
    assert(parts.isEmpty, parts.map(_.getName).mkString(","))
  }

  test("host cap routes heavy hosts through the salted two-level rank (pipeline)") {
    // one heavy host (30 quality survivors, cap 5) + light hosts: counts and
    // curated ids must equal the naive first-k-per-host semantics
    val docs = ((1L to 30L).map(i => (i, s"http://heavy.example/$i", goodText(s"h$i"))) ++
      (31L to 40L).map(i => (i, s"http://light${i % 3}.example/$i", goodText(s"l$i"))))
      .toDF("id", "url", "text")
    val r = CurationPipeline.run(docs, "text", "id", "url", hostCapK = 5)
    val f = r.funnel.collect().head
    assert(f.getLong(3) == 40, "all pass quality")
    assert(f.getLong(4) == 5 + 10, "heavy capped at 5, light hosts uncapped")
    assert(f.getLong(5) == 15)
    val kept = r.curated.select("id").collect().map(_.getLong(0)).toSet
    assert(kept == ((1L to 5L) ++ (31L to 40L)).toSet, "first 5 by id on the heavy host")
  }
}
