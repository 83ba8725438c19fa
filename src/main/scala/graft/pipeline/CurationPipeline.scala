package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._
import graft.ops.CurationOps

/**
 * The post-extraction curation stage as ONE runnable job — the published
 * pipeline composition (CCNet / C4 / Gopher / RefinedWeb order), each stage
 * applied to the survivors of the previous one:
 *
 *   1. unicode normalization (per-row)
 *   2. canonical-url dedup (first doc per canonical url)
 *   3. exact content dedup on the text digest (among url survivors)
 *   4. per-row quality gates (Gopher ∧ C4, on normalized text)
 *   5. per-host cap (among quality survivors)
 *   6. deterministic splitmix sampling
 *   7. CCNet line-level dedup applied to the final survivors' text
 *
 * Scale shape: stages 1-6 are computed over ONE NARROW flag frame —
 * (id, host, stage-keep booleans), ~40 bytes/row — materialized once with a
 * localCheckpoint after the url/digest windows run. Everything downstream
 * (the per-host survivor counts, the heavy-host cap, the funnel counts, the
 * curated keep-set) reads that materialization instead of re-running the
 * text scan + windows per action (the funnel and the curated write are
 * separate actions — without the checkpoint the whole wide plan executed
 * once per action). Conditional stage membership composes through windows:
 * `min(when(prev_keep, id))` over the stage key gives the stage's keeper
 * among prior survivors.
 *
 * The host cap is the SKEW-SAFE two-phase shape (the extraction pipeline
 * salts exactly this key — a head host is 10^7-10^8 docs at design scale):
 * per-host quality-survivor counts → heavy-host list (join strategy left to
 * AQE: broadcasts at runtime when small, never a forced driver OOM) → rows of
 * LIGHT hosts keep unconditionally (they cannot exceed the cap) → only the
 * heavy slice runs the ordered windows, salted first (bounded partitions),
 * final rank on the ≤ saltBuckets·k remnant. Funnel counts come from two
 * small aggregations over the checkpoint (all rows; cap survivors) joined
 * into one row — never a count() action per stage, never a corpus rescan.
 */
object CurationPipeline {

  final case class Result(curated: DataFrame, funnel: DataFrame)

  /** `docs` must carry (idCol: unique long-castable, urlCol, textCol).
    * `gates` picks the quality rule sets ("gopher", "c4", both, or empty) —
    * the published pipelines differ exactly here (C4's terminal-punctuation
    * line rule deletes punctuation-free corpora outright; Gopher's doesn't).
    * `lmTarget` (a (frame, textCol) pair) additionally gates on CCNet-style
    * LM cross-entropy ≤ `lmMaxCeNats` against that target corpus — like
    * CCNet itself, the LM score is its own pass over the text (the bigram
    * explode cannot fuse into the per-row flag projection); its verdict
    * joins the narrow flag frame on the id before the checkpoint. Both sides
    * are scored over the SAME normalizeText view the digest and quality
    * gates see (normalization noise must not shift docs across the
    * threshold), and a doc too short to score (<2 tokens, n_bigrams = 0) is
    * LM-neutral — the length gates own that judgment. */
  /** `langFromText = true` derives a `lang` column on the curated output via
    * the embedded char-bigram classifier (graft.text.LangId — the CCNet §4.3
    * gate; no lang input column is trusted or required), and when
    * `pplTerciles` is also set the head/middle/tail split runs PER PREDICTED
    * LANGUAGE (CCNet computes terciles per language, not globally). Per-row
    * expression over the survivors' one rescan — no extra shuffle.
    *
    * Optional near-dup stages (all off by default; all keep the one-job
    * checkpoint shape):
    *  - `imagePayloadCol`: perceptual image dedup — one more window on the
    *    flag frame keyed by `image_dhash(payload)`: among exact-dup
    *    survivors, the min-id doc per hash keeps; docs whose payload is not
    *    a decodable image (NULL dhash) pass. Funnel gains
    *    n_after_image_dedup.
    *  - `semDedup` = (embCol, unit centroids, eps): SemDeDup — the verdict
    *    is computed by SimilarityOps.semDedup over the FULL input (its
    *    min-id keeper/earlier-member drop rule is corpus-wide; scoping it
    *    to prior-stage survivors would need a second checkpointed job) and
    *    joins the narrow flag frame on the id BEFORE the checkpoint — the
    *    LM-gate shape. Funnel gains n_after_semdedup.
    *  - `spanDedup`: EXACTSUBSTR removal — a TRANSFORM of the curated text
    *    (corpus-duplicated 13-token windows removed AFTER line dedup), part
    *    of the curated-output action, not a flag. */
  def run(docs: DataFrame, textCol: String, idCol: String, urlCol: String,
          hostCapK: Int = 100000, samplePct: Int = 100,
          gates: Set[String] = Set("gopher", "c4"),
          saltBuckets: Int = 64,
          lmTarget: Option[(DataFrame, String)] = None,
          lmMaxCeNats: Double = 9.0,
          pplTerciles: Boolean = false,
          langFromText: Boolean = false,
          imagePayloadCol: Option[String] = None,
          semDedup: Option[(String, Seq[Seq[Double]], Double)] = None,
          spanDedup: Boolean = false): Result = {
    val norm = CurationOps.normalizeText(col(textCol))
    val quality = Seq(
      if (gates.contains("gopher")) Some(gopherKeep(norm)) else None,
      if (gates.contains("c4")) Some(c4Keep(norm)) else None)
      .flatten.reduceOption(_ && _).getOrElse(lit(true))

    val urlW = Window.partitionBy(col("_curl"))
    val digW = Window.partitionBy(col("_digest"))
    // the narrow flag frame: text/url are scanned ONCE here and not carried —
    // only ids, the window keys, and per-row verdicts flow into the windows,
    // and only (id, host, flags) survives into the checkpoint
    val perRow = docs.select(Seq(
      col(idCol).as("_id"),
      url_host(col(urlCol)).as("_host"),
      coalesce(canonical_url(col(urlCol)), col(urlCol)).as("_curl"),
      text_digest(norm).as("_digest"),
      quality.as("_qrow")) ++
      imagePayloadCol.map(p => image_dhash(col(p)).as("_dhash")).toSeq: _*)
    val withLm = lmTarget match {
      case Some((tgt, tcol)) =>
        val normDocs = docs.select(col(idCol),
          CurationOps.normalizeText(col(textCol)).as(textCol))
        val normTgt = tgt.select(CurationOps.normalizeText(col(tcol)).as(tcol))
        val ce = CurationOps.lmCrossEntropy(normDocs, textCol, idCol, normTgt, tcol)
          .select(col(idCol).as("_id"),
            (col("n_bigrams") === 0 || col("ce_nats") <= lmMaxCeNats).as("_lmok"))
        perRow.join(ce, Seq("_id"), "left")
          .withColumn("_qrow2", col("_qrow") && coalesce(col("_lmok"), lit(true)))
          .drop("_qrow", "_lmok").withColumnRenamed("_qrow2", "_qrow")
      case None => perRow
    }
    // SemDeDup verdict (full-input contract, see Scaladoc) joins the narrow
    // frame by id before the checkpoint — the LM-gate shape
    val withSem = semDedup match {
      case Some((embCol, centroids, eps)) =>
        val keep = graft.ops.SimilarityOps.semDedup(
            docs.select(col(idCol), col(embCol)), embCol, idCol,
            centroids, eps, keeper = "min_id")
          .select(col(idCol).as("_id"), lit(true).as("_semok"))
        withLm.join(keep, Seq("_id"), "left")
          .withColumn("_semok", coalesce(col("_semok"), lit(false)))
      case None => withLm.withColumn("_semok", lit(true))
    }
    // window key = (is-null flag, dhash-or-hashed-id): NULL-dhash rows (most
    // of a crawl corpus is not an image) get SINGLETON partitions keyed by a
    // hash of their own id instead of one giant all-nulls window partition —
    // the skew killer this two-column key avoids; the flag column keeps an
    // id-hash value from ever colliding with a real dhash value. xxhash64,
    // not a long CAST: for non-numeric string ids the cast is NULL for every
    // row, which would collapse all non-image rows back into one partition
    // (imgKeep short-circuits on _dhash.isNull, so the key is partitioning-
    // only — a rare id-hash collision just co-locates two passing rows)
    val dhashW = Window.partitionBy(col("_dhash").isNull,
      coalesce(col("_dhash"), xxhash64(col("_id"))))
    val imgKeep =
      if (imagePayloadCol.isDefined)
        col("_dig_keep") && (col("_dhash").isNull ||
          col("_id") === min(when(col("_dig_keep"), col("_id"))).over(dhashW))
      else col("_dig_keep")
    val flagged = withSem
      .withColumnRenamed("_qrow", "_q")
      .withColumn("_url_keep", col("_id") === min(col("_id")).over(urlW))
      // exact-dup keeper AMONG url survivors: min id with _url_keep per digest
      .withColumn("_dig_keep", col("_url_keep") &&
        col("_id") === min(when(col("_url_keep"), col("_id"))).over(digW))
      // perceptual image dedup among exact-dup survivors (NULL dhash passes)
      .withColumn("_img_keep", imgKeep)
      .withColumn("_sem_keep", col("_img_keep") && col("_semok"))
      .withColumn("_q_keep", col("_sem_keep") && col("_q"))
      .select(col("_id"), col("_host"), col("_url_keep"), col("_dig_keep"),
        col("_img_keep"), col("_sem_keep"), col("_q_keep"))
      .localCheckpoint(true)

    // ---- stage 5: two-phase host cap among quality survivors -------------
    // the ONE implementation of the skew-safe heavy/light cap lives in
    // CurationOps.hostCap (shared builder — the same no-drift rationale as
    // gopherKeep/c4Keep); its three plan branches all read the narrow
    // checkpointed frame, so the triple consumption is cheap here
    val survivors = flagged.filter(col("_q_keep")).select(col("_id"), col("_host"))
    val afterCapIds =
      CurationOps.hostCap(survivors, "_host", "_id", hostCapK, saltBuckets)
        .select(col("_id"))

    // ---- stage 6 + funnel -------------------------------------------------
    val smp = pmod(splitmix64(col("_id").cast("long").bitwiseXOR(lit(0x5eedL))), lit(100)) < samplePct
    // optional near-dup stages report their own funnel columns (between the
    // exact-dedup and quality counts); schema is unchanged when they're off
    val optNames =
      (if (imagePayloadCol.isDefined) Seq("n_after_image_dedup") else Nil) ++
      (if (semDedup.isDefined) Seq("n_after_semdedup") else Nil)
    def optCounts = Seq(
      "n_after_image_dedup" -> col("_img_keep"),
      "n_after_semdedup" -> col("_sem_keep"))
      .filter { case (n, _) => optNames.contains(n) }
      .map { case (n, f) => coalesce(sum(when(f, 1L)), lit(0L)).as(n) }
    val aggAll = flagged.agg(
      count(lit(1)).as("n_docs"),
      Seq(coalesce(sum(when(col("_url_keep"), 1L)), lit(0L)).as("n_after_url_dedup"),
        coalesce(sum(when(col("_dig_keep"), 1L)), lit(0L)).as("n_after_exact_dedup")) ++
        optCounts :+
        coalesce(sum(when(col("_q_keep"), 1L)), lit(0L)).as("n_after_quality"): _*)
    val aggCap = afterCapIds.agg(
      count(lit(1)).as("n_after_host_cap"),
      coalesce(sum(when(smp, 1L)), lit(0L)).as("n_curated"))
    val funnel = aggAll.crossJoin(aggCap).select(
      Seq(col("n_docs"), col("n_after_url_dedup"), col("n_after_exact_dedup")) ++
        optNames.map(col) ++
        Seq(col("n_after_quality"), col("n_after_host_cap"), col("n_curated")): _*)

    // ---- curated output: keep-set ids → one per-row rescan of the corpus --
    val keepIds = afterCapIds.filter(smp)
    val base = docs.select(col(idCol).as("_id"), col(urlCol).as("_url"), norm.as("_text"))
    val kept = base.join(keepIds, Seq("_id"), "left_semi")
    val lineDeduped = CurationOps.dropDuplicatedLines(kept, "_text", "_id")
    // optional EXACTSUBSTR removal (Lee 2022 §4.1) of the line-deduped text:
    // corpus-duplicated 13-token windows vanish from the curated output —
    // a transform inside the curated action, not a flag
    val textFrame =
      if (spanDedup)
        CurationOps.removeDuplicatedSpans(lineDeduped, "text_deduped", "_id")
          .select(col("_id"), col("clean_text").as("text_deduped"))
      else lineDeduped
    val withLang =
      if (langFromText)
        textFrame.join(kept.select(col("_id"), col("_url"),
          lang_id(col("_text")).getField("lang").as("lang")), Seq("_id"))
      else
        textFrame.join(kept.select(col("_id"), col("_url")), Seq("_id"))
    val curated0 = withLang.select(
      Seq(col("_id").as(idCol), col("_url").as(urlCol),
        col("text_deduped").as(textCol)) ++
        (if (langFromText) Seq(col("lang")) else Nil): _*)
    // optional CCNet tiering (Wenzek §4.4): attach head/middle/tail terciles
    // by LM score over the curated survivors — downstream corpora sample by
    // tier instead of a hard LM cut. Scores are per-doc (independent of which
    // rows are scored), so scoring only the survivors is both cheaper and
    // consistent with the gate's scores; terciles use the histogram
    // contract (never a survivor sort). The tier key is the PREDICTED
    // language when langFromText is on (CCNet's per-language terciles);
    // otherwise the single-language constant.
    val curated = (pplTerciles, lmTarget) match {
      case (true, Some((tgt, tcol))) =>
        val normTgt = tgt.select(CurationOps.normalizeText(col(tcol)).as(tcol))
        val tierKey =
          if (langFromText) lang_id(col("_text")).getField("lang")
          else lit("all")
        val scored = CurationOps.lmCrossEntropy(
            kept.select(col("_id"), col("_text")), "_text", "_id", normTgt, tcol)
          .join(kept.select(col("_id"), tierKey.as("_tier_key")), Seq("_id"))
        // 'und' rows are EXCLUDED from the terciles: an unknown-language
        // bucket would mix scripts whose LM scores aren't comparable, and
        // per-language thresholds keyed on a refused label are meaningless —
        // those rows keep lang='und' and a NULL ppl_bucket (the left join)
        val tiered = scored.filter(col("_tier_key") =!= lit(graft.text.LangId.Und))
        val buckets = CurationOps.perplexityBuckets(tiered, "ce_nats", "_tier_key")
          .select(col("_id").as(idCol), col("ppl_bucket"))
        curated0.join(buckets, Seq(idCol), "left")
      case _ => curated0
    }
    Result(curated, funnel)
  }

  // the exact rule expressions the q55/q56 oracles pin — shared builders in
  // CurationOps, so the job's gates can never drift from the audited views
  private def gopherKeep(txt: Column): Column =
    CurationOps.gopherCols(txt).toMap.apply("keep")

  private def c4Keep(txt: Column): Column =
    CurationOps.c4Cols(txt, Seq("lorem ipsum")).toMap.apply("keep")

  final case class JobResult(curatedPath: String, lineagePath: String,
                             funnel: Array[Long], resumedBuckets: Int)

  /**
   * Checkpoint-resumable curation run (BucketCommit's commit groups +
   * lineage, §5.3): the curated output is bucketed on a hash of the id and
   * committed per fixed group; lineage rows key on "id\tsha256(text)". A
   * rerun over the same outDir skips committed buckets (their directories
   * are untouched) and recomputes only the rest; because every stage is
   * deterministic (windows keyed on content hashes, splitmix sampling,
   * min-id keepers), a resumed run's bytes equal an uninterrupted run's
   * (CurationPipelineSpec pins this). The flag/plan recompute on resume is
   * the same trade ExtractPipeline makes: lineage rows are the checkpoint,
   * not Spark shuffle state.
   */
  def runJob(spark: org.apache.spark.sql.SparkSession, docs: DataFrame, outDir: String,
             textCol: String, idCol: String, urlCol: String,
             hostCapK: Int = 100000, samplePct: Int = 100,
             gates: Set[String] = Set("gopher", "c4"),
             nBuckets: Int = 16, commitGroups: Int = 1,
             runId: String = "curate-0",
             failAfterGroups: Option[Int] = None): JobResult = {
    val curatedPath = s"$outDir/curated"
    val lineagePath = s"$outDir/lineage"
    val done = BucketCommit.doneBuckets(spark, lineagePath)
    val r = run(docs, textCol, idCol, urlCol, hostCapK, samplePct, gates)
    BucketCommit.commit(
      r.curated.withColumn(BucketCommit.BucketCol, BucketCommit.bucketOf(col(idCol), nBuckets)),
      curatedPath, lineagePath, runId, nBuckets, commitGroups, done,
      rowKey = concat_ws("\t", col(idCol).cast("string"), sha2(encode(col(textCol), "UTF-8"), 256)),
      failAfterGroups = failAfterGroups)
    JobResult(curatedPath, lineagePath,
      r.funnel.collect().head.toSeq.map(_.asInstanceOf[Long]).toArray,
      done.size)
  }
}
