package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/**
 * Similarity search over embedding columns (Array[Float]) — brute-force exact
 * baseline and a multi-table hyperplane-LSH bucketed scale path (deterministic
 * splitmix64-seeded planes, multi-probe over Hamming-1 buckets). All dot
 * products are NATIVE codegen'd expressions (expr.VectorExpressions) — the
 * builtin-composition form (aggregate over zip_with) is interpreted per row
 * and dominated both the bucket scan and the candidate verify.
 *
 * Scale parameterization (the round-1 weakness this replaces): the number of
 * sign-bit planes GROWS with corpus size — nPlanes ≈ log2(n / targetBucket) —
 * so expected bucket occupancy stays ~targetBucket at any n instead of the
 * candidate self-join going O(n²/2^k) with a FIXED k. Recall lost to more
 * planes is bought back with L independent tables (classic (k, L) LSH,
 * Indyk–Motwani / Gionis et al. VLDB'99) plus Hamming-1 multi-probe on the
 * probing side. Degenerate buckets (all-zero vectors, mass duplicates) are
 * capped by the shared LshCandidates core, diagnosable via oversizedBuckets.
 */
object SimilarityOps {

  /** Deterministic pseudo-random hyperplanes (splitmix64-seeded, values in
    * [-1,1]); the matrix rides expressions as a plan-referenced constant, so
    * the plan still needs no side input. */
  def lshPlanes(nPlanes: Int, dim: Int, seed: Long = 0L): Seq[Seq[Double]] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (0 until nPlanes).map { p =>
      (0 until dim).map { d =>
        (mix(seed ^ (p.toLong * 1000003L + d)) >>> 11) * 1.1102230246251565e-16 * 2 - 1
      }
    }
  }

  /** LSH bucket id = integer of sign bits of dot(v, plane_i) — one native
    * fused loop per row (LshBucketExpr). */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expr.LshBucketExpr(org.apache.spark.sql.graft.ColumnBridge.expression(v), planes))

  /** Probe buckets for multi-probe LSH: every bucket within Hamming distance
    * ≤ radius of the own bucket (radius 1 — the production default — is the
    * own bucket + the nPlanes single-bit neighbors). radius = nPlanes probes
    * ALL 2^nPlanes buckets, making the search exhaustive/exact — the oracle
    * configuration (the same trick as IVF's nProbe = k), never the scale path. */
  def probeBuckets(bucket: Column, nPlanes: Int, radius: Int = 1): Column =
    if (radius <= 1) // direct form — the 2^nPlanes mask enumeration below would scan 16M ints at nPlanes=24
      array(bucket +: (0 until nPlanes).map(i => bucket.bitwiseXOR(lit(1 << i))): _*)
    else {
      val masks = (0 until (1 << nPlanes)).filter(m => Integer.bitCount(m) <= radius)
      array(masks.map(m => if (m == 0) bucket else bucket.bitwiseXOR(lit(m))): _*)
    }

  /** Embedding width from the data (one-row metadata probe over the first
    * NON-NULL vector — a leading null row would otherwise NPE, and the plane
    * dimension must come from a real vector). 0 for an empty/all-null input.
    * Single-width contract: every non-null vector must share this width —
    * mixed-width corpora truncate dots against shorter planes. */
  def embeddingDim(df: DataFrame, vecCol: String): Int =
    df.filter(col(vecCol).isNotNull).select(size(col(vecCol))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** Planes per table for a corpus of n vectors: expected bucket occupancy
    * ≈ targetBucket, clamped to [minPlanes, 24] (24 sign bits = 16M buckets
    * per table — beyond that the int bucket id and probe fan-out dominate). */
  def planesFor(n: Long, targetBucket: Int = 64, minPlanes: Int = 8): Int =
    math.min(24, math.max(minPlanes,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2.0)).toInt))

  /** Partition count for the narrow (id, table, bucket) checkpoint in
    * embeddingNearDupPairs: ≈500k rows per block, never below the session's
    * parallelism (the coalesce runs BEFORE the checkpoint materializes, so a
    * lower floor would serialize the bucket-hash + cap-window pipeline onto
    * fewer cores than the host has — the round-4 q34/q41 regression), capped
    * at 2^14 blocks. Exposed for the spec that pins all three regimes. */
  private[graft] def checkpointPartitions(rows: Long, nTables: Int, parallelism: Int): Int =
    math.min(1L << 14,
      math.max(math.max(1, parallelism).toLong, rows * nTables / 500000L)).toInt

  /** Keys larger than maxBucketSize as (_key, count): with the same defaults
    * (k from planesFor) exactly the keys the embeddingNearDupPairs cap drops. */
  def oversizedBuckets(df: DataFrame, vecCol: String, nPlanes: Int = 0, nTables: Int = 4,
                       maxBucketSize: Int = 1 << 13): DataFrame = {
    val k = if (nPlanes > 0) nPlanes else planesFor(df.count())
    LshCandidates.oversized(bucketKeys(vectors(df, vecCol, lit(0L)), k, nTables,
      embeddingDim(df, vecCol)), maxBucketSize)
  }

  private def vectors(df: DataFrame, vecCol: String, id: Column): DataFrame =
    df.select(id.as("_id"), transform(col(vecCol), x => x.cast("double")).as("_v"))

  /** The embedding keyed frame (_id, _key), key = (t << 24) | bucket of table
    * t: each table's k×dim bucket dots run once per row, inside one array. */
  private def bucketKeys(emb: DataFrame, k: Int, nTables: Int, dim: Int): DataFrame =
    emb.select(col("_id"), explode(array((0 until nTables).map { t =>
      lit(t.toLong << 24).bitwiseOR(
        lshBucket(col("_v"), lshPlanes(k, dim, seed = t.toLong * 0x9e37L)).cast("long"))
    }: _*)).as("_key"))

  /** Embedding near-dup removal with CLUSTER semantics: LSH candidate pairs →
    * connected components → keep exactly the min-id row per cluster (the
    * embedding analog of DedupOps.dropNearDupsCC — a chain a~b~c keeps a and
    * drops b,c, never over-drops transitively-similar-only rows). */
  def dropEmbeddingDupsCC(df: DataFrame, vecCol: String, idCol: String,
                          threshold: Double = 0.95, nTables: Int = 4,
                          approxRows: Long = -1L): DataFrame = {
    val pairs = embeddingNearDupPairs(df, vecCol, idCol, threshold,
      nTables = nTables, approxRows = approxRows)
    DedupOps.dropComponentLosers(df, idCol, DedupOps.connectedComponents(pairs))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540 §2): semantic dedup via
    * k-means clusters + WITHIN-CLUSTER pairwise cosine — the cluster-based
    * complement of the LSH path (dropEmbeddingDupsCC). Each row is assigned
    * to its argmax-dot cluster over the given UNIT `centroids` (train with
    * IvfAnn.trainCentroids — deterministic — or pass explicit constants);
    * within a cluster, members are ranked and a member is DROPPED when some
    * LOWER-RANKED member has cosine ≥ eps with it. The drop decision never
    * depends on whether the earlier member itself survived (the paper's
    * implementation choice), so the rule is embarrassingly parallel per
    * cluster — no sequential scan per cluster at any size.
    *
    * keeper = "low_centroid_sim": the paper's rule — the kept exemplar of a
    * duplicate group is the member FARTHEST from its centroid (ranked by
    * ascending centroid cosine, ties by ascending id); "min_id": pure id
    * order — the exactly-replayable contract q80's DuckDB oracle pins.
    *
    * Scale shape: assignment is one native fused loop per row (no shuffle);
    * the rank windows and the pair join shuffle ONCE on the cluster id (same
    * key — the exchange is reused); the join is quadratic only WITHIN a
    * cluster, so nClusters is chosen to bound n/k (the paper runs 50k
    * clusters for 600M embeddings) and clusters beyond maxClusterSize are
    * SKIPPED conservatively — members all kept, never an unbounded quadratic
    * (the same stance as the LSH bucket cap, but keep-all instead of
    * drop-all: dedup must not delete rows it could not examine). */
  def semDedup(df: DataFrame, vecCol: String, idCol: String,
               centroids: Seq[Seq[Double]], eps: Double = 0.95,
               keeper: String = "low_centroid_sim",
               maxClusterSize: Int = 1 << 13): DataFrame = {
    require(keeper == "low_centroid_sim" || keeper == "min_id",
      s"unknown keeper rule: $keeper")
    require(centroids.nonEmpty, "semDedup needs at least one centroid")
    val unit = centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }
    val base0 = df.select(col(idCol).as("_id"),
        transform(col(vecCol), x => x.cast("double")).as("_v"))
      .withColumn("_cl", IvfAnn.assignList(col("_v"), unit))
    // rank key: sim to the OWN centroid via a small when-chain (k branches,
    // exactly one CosineSim evaluates per row) — a gather-by-index expression
    // would save nothing at these k and cost a new expression class
    val base = if (keeper == "min_id") base0.withColumn("_csim", lit(0.0d))
    else base0.withColumn("_csim",
      unit.zipWithIndex.tail.foldLeft(
        when(col("_cl") === 0, cosine_sim(col("_v"), typedLit(unit.head)))) {
        case (acc, (c, i)) => acc.when(col("_cl") === i, cosine_sim(col("_v"), typedLit(c)))
      })
    val cw = Window.partitionBy(col("_cl"))
    val rw = cw.orderBy(col("_csim").asc, col("_id").asc)
    val ranked = base
      .withColumn("_sz", count(lit(1)).over(cw))
      .withColumn("_r", row_number().over(rw))
      .filter(col("_sz") <= maxClusterSize)
      .select(col("_id"), col("_v"), col("_cl"), col("_r"))
    val losers = ranked.as("x").join(ranked.as("y"),
        col("x._cl") === col("y._cl") && col("y._r") < col("x._r") &&
          cosine_sim(col("x._v"), col("y._v")) >= eps, "left_semi")
      .select(col("_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding near-dup pairs (a < b) with cosine ≥ threshold via (k, L)
    * hyperplane LSH: k sign-bit planes per table (k grown with corpus size),
    * L independent tables, Hamming-1 multi-probe on the probing side, exact
    * cosine verification on candidates only — never a full cross join.
    *
    * Shuffle shape: ALL tables ride one packed long key — a single L×n-row
    * shuffle instead of L; keys over maxBucketSize are capped (LshCandidates);
    * vectors attach to candidate pairs only, never ride the key shuffle. */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
                            threshold: Double = 0.95,
                            nPlanes: Int = 0, nTables: Int = 4,
                            maxBucketSize: Int = 1 << 13,
                            approxRows: Long = -1L): DataFrame = {
    val dim = embeddingDim(df, vecCol)
    if (dim == 0) // empty input: an empty pair frame, not a driver crash
      return df.select(col(idCol).as("a"), col(idCol).as("b"), lit(0.0d).as("cosine")).limit(0)
    // k sizing needs only the order of magnitude of n: callers that already
    // know the corpus size (a prior stage's count, table stats) pass
    // approxRows and skip the sizing scan entirely
    val k = if (nPlanes > 0) nPlanes
            else planesFor(if (approxRows > 0) approxRows else df.count())
    val emb = vectors(df, vecCol, col(idCol))
    // checkpoint partition count ∝ data (≈500k narrow rows per partition),
    // FLOORED at the session's parallelism: coalesce happens BEFORE the
    // checkpoint materializes, so a floor below the core count would run the
    // whole explode+window+checkpoint pipeline at that width — the round-4
    // regression coalesced a 40k-row corpus to ONE task (43% on q34). At
    // 10^10 rows the size term dominates and the 2^14 cap bounds block count.
    // coalesce, not repartition — no extra shuffle; coalesce above the actual
    // partition count is a no-op, so no partition-count probe is needed (an
    // rdd.getNumPartitions probe under AQE finalizes the adaptive plan and
    // EXECUTES the explode+window stages once before the checkpoint runs them
    // again — the exact double-run the checkpoint exists to avoid).
    val ckptParts = checkpointPartitions(
      if (approxRows > 0) approxRows else 1000000L, nTables,
      df.sparkSession.sparkContext.defaultParallelism)
    // the cap removes oversized-key rows from BOTH sides: a row in a
    // degenerate bucket must neither build nor probe in that table, or the
    // quadratic blowup the cap exists to prevent reopens through the probes
    val keyed = LshCandidates.capped(bucketKeys(emb, k, nTables, dim), maxBucketSize)
      .coalesce(ckptParts)
      // the build and probe branches below are DIFFERENT projections of this
      // subtree (no exchange reuse possible): materialize it once
      // (localCheckpoint — eager, lineage-truncated, blocks freed on GC) so
      // the k×dim bucket dots and the cap window run a single time.
      // Materialized WIDTH matters at 10^10 rows: only (id, key) is
      // checkpointed — the k+1 probe keys per row are derived from it
      // AFTER the checkpoint, not stored in it
      .localCheckpoint(true)
    // ASCENDING-ONLY multi-probe: flip only ZERO bits to one. A Hamming-1
    // pair lands in buckets differing in exactly one bit, and the row in the
    // LOWER bucket probes up into the other — flipping set bits too would
    // only rediscover every cross-bucket pair from the second direction
    // (2× join input for an identical candidate-pair set; set-equality is
    // asserted by AnnSpec). Same-bucket pairs come from the radius-0 own-key
    // probe; flipping one of the key's low k bits flips the bucket. Nulls mark
    // skipped set bits and are filtered after the explode (a plain codegen'd
    // filter — an array-level lambda would be interpreted).
    val ascProbes = array(col("_key") +: (0 until k).map(i =>
      when(col("_key").bitwiseAND(lit(1L << i)) === 0,
        col("_key").bitwiseOR(lit(1L << i)))): _*)
    val probed = keyed.select(col("_id"), explode(ascProbes).as("_key"))
      .filter(col("_key").isNotNull)
    // probe direction no longer implies id order, so orientation is by
    // least/greatest and self-pairs are excluded with =!=
    val candidates = probed.as("x").join(keyed.as("y"),
        col("x._key") === col("y._key") && col("x._id") =!= col("y._id"))
      .select(least(col("x._id"), col("y._id")).as("a"),
        greatest(col("x._id"), col("y._id")).as("b"))
    // the verify uses the NATIVE CosineSim expression (one fused loop): the
    // interpreted aggregate+zip_with form cost 17 CPU-s for 2k vectors'
    // candidates at sf0.1 — higher-order functions never enter codegen.
    // Dedup runs AFTER the verify, not before: pre-verify distinct is a full
    // exchange + hash-agg of the ENTIRE candidate stream to remove only the
    // ≤(L + 1)-fold duplication the table/probe overlap produces, while the
    // cosine filter typically keeps a tiny fraction — re-verifying a few
    // duplicates costs codegen'd flops, the up-front exchange costs a full
    // shuffle of the widest intermediate (measured 1.0s of q34's 2.5s).
    LshCandidates.attach(candidates, "a", "b", emb, emb)
      .withColumn("cosine", cosine_sim(col("_va"), col("_vb")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), round(col("cosine"), 4).as("cosine"))
      .dropDuplicates("a", "b")
  }
}
