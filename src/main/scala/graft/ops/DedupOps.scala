package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/**
 * Corpus-scale deduplication operators (training-data pipeline surface).
 * All are shuffle-frugal: exact dedup is one hash-groupBy; near-dup candidate
 * generation is an LSH band-key shuffle join (never O(n²)); keeper selection is
 * a single left_anti join.
 */
object DedupOps {

  /** Exact dedup: keep the row with the smallest `idCol` per identical `textCol`.
    * One shuffle on the text digest (never on raw text — 64-byte keys, not docs). */
  def dropExactDups(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sha2(encode(col(textCol), "UTF-8"), 256))
      .orderBy(col(idCol).asc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** MinHash signature length and shingle width of every minhash path: an
    * index and the batch classified against it must agree, and the oracles replay these. */
  private val NumHashes = 64
  private val ShingleSize = 3

  /** MinHash-LSH near-dup candidate pairs (a < b) with estimated Jaccard ≥ threshold.
    * Band-key explode + self-join on the band bucket (LshCandidates, capped at
    * maxBucketSize — dropped keys: oversizedBands); signatures compared only
    * for same-bucket candidates. */
  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.5, rowsPerBand: Int = 8,
                   maxBucketSize: Int = 1 << 13): DataFrame = {
    // ONE text-hashing pass: sig + bands fused (MinHashSigBands), then the
    // narrow (id, sig, bands) frame — ~50× smaller than the text corpus — is
    // eagerly materialized (localCheckpoint: lineage truncated, blocks freed
    // when the result is dropped) so the band join and both signature
    // attachments read the materialized frame instead of re-hashing the
    // corpus once per consumer (the unused digest is pruned).
    val base = buildDedupIndex(df, textCol, idCol, rowsPerBand).drop("_digest")
      .localCheckpoint(true)
    // the band self-join shuffles only (id, band) — signatures (8× wider) are
    // attached AFTER candidate pairs are deduped, keeping the explosive stage
    // narrow. The sig attach stays TWO joins against the checkpointed narrow
    // frame — the verifiedNearDupPairs melt shape was tried here and measured
    // SLOWER (q39 +0.4 s at sf0.1): the sigs are materialized localCheckpoint
    // blocks (re-reading them is a local block read, not a corpus re-scan),
    // while pre-est-filter candidates are NOT a sliver on dup-heavy corpora,
    // so the melt's groupBy shuffled ~2×|candidates| of 64-long signatures
    // across the network to save two cheap block re-reads
    val sigs = base.select(col("_id"), col("_sig").as("_v"))
    LshCandidates.attach(LshCandidates.selfJoin(bandKeys(base), maxBucketSize),
        "a", "b", sigs, sigs)
      .withColumn("est_jaccard", LshCandidates.sigEstimate(NumHashes))
      .filter(col("est_jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  private def bandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("_id"), explode(col("_bands")).as("_key"))

  /** Two-phase near-dup detection: MinHash-LSH candidates verified by EXACT
    * token-shingle Jaccard (computed only on candidate pairs — the standard
    * generate-then-verify shape; estimates never reach the output).
    *
    * Text attach is ONE corpus join, not two: each (a, b) candidate melts to
    * its two member ids, the corpus text attaches to the melted sliver in a
    * single join, and a (a, b)-keyed pivot reassembles the pair row. The
    * two-join form read the corpus text column twice (once per side) and at
    * small scale broadcast the TEXT side twice; this shape scans it once and
    * shuffles only candidate-member texts — pairs are a sliver of the corpus,
    * so the heavy bytes move once. Ids must be unique (the dedup-family
    * contract): a duplicated id is COLLAPSED here — max(when) keeps the
    * lexicographically greatest text per side, hiding it — while the signature
    * attach (LshCandidates.attach) multiplies its pair rows. */
  def verifiedNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                           threshold: Double = 0.8,
                           candidateThreshold: Double = 0.5,
                           rowsPerBand: Int = 8): DataFrame = {
    val texts = df.select(col(idCol).as("_tid"), col(textCol).as("_t"))
    val cand = nearDupPairs(df, textCol, idCol, candidateThreshold,
      rowsPerBand = rowsPerBand)
    val melted = cand.select(col("a"), col("b"),
      explode(array(
        struct(lit("a").as("_side"), col("a").as("_tid")),
        struct(lit("b").as("_side"), col("b").as("_tid")))).as("_m"))
      .select(col("a"), col("b"), col("_m._side").as("_side"), col("_m._tid").as("_tid"))
    melted.join(texts, Seq("_tid"))
      .groupBy(col("a"), col("b"))
      .agg(max(when(col("_side") === "a", col("_t"))).as("_ta"),
        max(when(col("_side") === "b", col("_t"))).as("_tb"))
      .withColumn("jaccard", round(shingle_jaccard(col("_ta"), col("_tb"), ShingleSize), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Greedy near-dup removal: drop every row whose id appears as the larger member
    * of a qualifying pair (single left_anti join; approximate — a chain a~b~c with
    * a≁c still drops b and c, the standard one-pass LSH-dedup compromise vs full
    * connected components). */
  def dropNearDups(df: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.8): DataFrame = {
    val losers = nearDupPairs(df, textCol, idCol, threshold)
      .select(col("b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash near-dup pairs within Hamming distance ≤ maxHamming, via
    * block-permuted multi-table bucketing (Manku, Jain & Das Sarma, WWW'07):
    * the 64-bit fingerprint splits into maxHamming+1 equal blocks; two
    * fingerprints within distance d ≤ maxHamming agree on ≥1 whole block
    * (pigeonhole), so bucketing once per block gives FULL recall — unlike the
    * round-1 single-prefix table, which missed any pair whose differing bits
    * landed in the prefix. Candidates are verified by exact popcount.
    *
    * Scale shape: ALL maxHamming+1 tables ride ONE packed (t << 32) | block
    * long key (the same fuse as embedding LSH's table/bucket key): a single
    * (d+1)×n-row shuffle + one self-join, instead of d+1 separate
    * full-corpus shuffles unioned. With maxHamming=3 each table keys on
    * 16 bits (65k buckets per table, growing with the corpus hash entropy).
    * Oversized buckets (mass-identical fingerprints) are capped like
    * nearDupPairs — exact-duplicate detection belongs to dropExactDups, not
    * the Hamming join. */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
                          maxHamming: Int = 3,
                          maxBucketSize: Int = 1 << 13): DataFrame =
    fingerprintNearDupPairs(
      df.select(col(idCol), simhash64(col(textCol)).as("_graft_fp")),
      "_graft_fp", idCol, maxHamming, maxBucketSize)

  /** The block-permuted Hamming join over ANY precomputed 64-bit fingerprint
    * column — the same machinery serves text SimHash (simhashNearDupPairs)
    * and perceptual image dHash (functions.image_dhash, q72): near-dup keys
    * are near-dup keys, whatever modality produced them. NULL fingerprints
    * (e.g. undecodable images) are dropped, not bucketed. */
  def fingerprintNearDupPairs(df: DataFrame, fpCol: String, idCol: String,
                              maxHamming: Int = 3,
                              maxBucketSize: Int = 1 << 13): DataFrame =
    // self-join on the packed key: the corpus is hashed + shuffled ONCE; the
    // 8-byte fingerprint rides along for the popcount verify
    LshCandidates.selfJoin(fingerprintKeys(df, fpCol, idCol, maxHamming),
        maxBucketSize, payload = Some("_sim"))
      .withColumn("hamming", bit_count(col("_pa").bitwiseXOR(col("_pb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))

  /** The fingerprint keyed frame (_id, _sim, _key), key = (t << 32) | block t. */
  private[ops] def fingerprintKeys(df: DataFrame, fpCol: String, idCol: String,
                                   maxHamming: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    require(nBlocks >= 2 && nBlocks <= 16, "maxHamming must be in [1, 15]")
    val blockBits = 64 / nBlocks
    val keys = array((0 until nBlocks).map { t =>
      lit(t.toLong << 32).bitwiseOR(
        shiftrightunsigned(shiftleft(col("_sim"), t * blockBits), 64 - blockBits))
    }: _*)
    df.select(col(idCol).as("_id"), col(fpCol).cast("long").as("_sim"))
      .filter(col("_sim").isNotNull)
      .select(col("_id"), col("_sim"), explode(keys).as("_key"))
  }

  /**
   * Connected components over a near-dup pair graph by iterative min-label
   * propagation (the MapReduce-CC family, Kiveris et al. SOCC'14 shape):
   * each node adopts the smallest label among itself and its neighbors until
   * fixpoint. Near-dup clusters have tiny diameters (a dup chain a~b~c rarely
   * exceeds a few hops), so convergence is a handful of narrow (id, label)
   * shuffles — never materializing the transitive closure.
   *
   * Returns (id, component) with component = min id of the cluster. Only ids
   * appearing in `pairs` are returned (isolated rows are their own keepers).
   *
   * Id types: integral (cast to long) or string (e.g. url keys) — anything
   * else fails fast, because cast-to-long would yield nulls and the graph
   * would silently lose every edge. String min uses UTF-8 byte order on both
   * the driver and distributed paths (Spark's binary-collation min).
   *
   * localThreshold is sized for a default driver heap: 2^20 boxed edge rows
   * plus the union-find map stay under ~200 MB; beyond that the distributed
   * min-label path takes over.
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          localThreshold: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.types._
    val aT = pairs.schema(pairs.schema.fieldIndex("a")).dataType
    val bT = pairs.schema(pairs.schema.fieldIndex("b")).dataType
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    val isIntegral = integral(aT) && integral(bT)
    val isString = aT == StringType && bT == StringType
    require(isIntegral || isString,
      s"connectedComponents requires integral or string id columns; got a: $aT, b: $bT " +
        "(a lossy cast would null out ids and silently drop every edge)")
    def src(c: Column): Column = if (isIntegral) c.cast("long") else c
    // ONE limit-probe job gates the local path: union-find needs neither the
    // symmetrized nor the deduplicated edge set (union() is idempotent and
    // direction-blind), so the raw pair frame is probed directly — the
    // previous shape paid a distinct SHUFFLE plus a count job plus a collect
    // job before the first union, three scheduler round-trips of pure latency
    // on metadata-sized graphs (the common case even at huge corpora: near-dup
    // pairs are a sliver of n). CollectLimit stops gathering past the
    // threshold, bounding driver memory exactly like the count-gate did.
    val probe = pairs.select(src(col("a")), src(col("b")))
      .limit(math.min(localThreshold, (Int.MaxValue - 1).toLong).toInt + 1).collect()
    if (probe.length <= localThreshold) {
      val spark = pairs.sparkSession
      // UTF-8 byte order (unsigned), matching Spark's binary-collation min —
      // Java String.compareTo is UTF-16 order and diverges above the BMP
      def lessThan(x: Any, y: Any): Boolean =
        if (isIntegral) x.asInstanceOf[Long] < y.asInstanceOf[Long]
        else {
          val a = x.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val b = y.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          val n = math.min(a.length, b.length)
          while (i < n && a(i) == b(i)) i += 1
          if (i < n) (a(i) & 0xff) < (b(i) & 0xff) else a.length < b.length
        }
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      probe.foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (lessThan(ra, rb)) parent(rb) = ra else parent(ra) = rb }
      }
      import spark.implicits._
      return if (isIntegral)
        parent.keys.toSeq.map(id => (id.asInstanceOf[Long], find(id).asInstanceOf[Long]))
          .toDF("id", "component")
      else
        parent.keys.toSeq.map(id => (id.asInstanceOf[String], find(id).asInstanceOf[String]))
          .toDF("id", "component")
    }
    // big graph (rare): symmetrized distinct edge frame, persisted across the
    // min-label iterations — the distinct matters HERE, where every duplicate
    // edge would re-shuffle per iteration
    val edges = pairs.select(src(col("a")).as("src"), src(col("b")).as("dst"))
      .unionByName(pairs.select(src(col("b")).as("src"), src(col("a")).as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val msgs = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("component"))
      val next = labels.unionByName(msgs)
        .groupBy(col("id")).agg(min(col("component")).as("component"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val changed = next.join(labels.withColumnRenamed("component", "_old"), Seq("id"))
        .filter(col("component") =!= col("_old")).limit(1).count()
      labels.unpersist(blocking = false)
      labels = next
      converged = changed == 0
      it += 1
    }
    edges.unpersist(blocking = false)
    if (!converged) {
      labels.unpersist(blocking = false)
      // an unconverged result silently splits components (over-keeping dup
      // rows) — refuse rather than return wrong clusters
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations " +
          s"(a component has diameter > $maxIter); raise maxIter")
    }
    // truncate the iteration lineage and hand back blocks owned by the result
    // RDD (freed by the ContextCleaner when the caller drops it) — returning
    // the persisted loop DF would leak its cache for the session lifetime
    val result = labels.localCheckpoint(true)
    labels.unpersist(blocking = false)
    result
  }

  /** Near-dup removal with CLUSTER semantics: two-phase verified pairs →
    * connected components → keep exactly one row per component. Unlike
    * dropNearDups' greedy pass, a chain a~b~c keeps one canonical
    * representative and drops the rest deterministically — never over-drops
    * rows that were only transitively similar, never keeps two members of
    * one cluster.
    *
    * Keeper rule: min id by default (the replayable canonical contract);
    * with `qualityCol` set, the member with the HIGHEST quality wins (ties →
    * min id) — the keep-the-best-member semantics production dedup wants
    * (dropping a well-formatted original in favor of its mangled mirror is
    * the classic min-id failure). The quality window runs over the
    * components frame only — clusters are a sliver of the corpus, so the
    * attach join + window never touch full-corpus scale. */
  def dropNearDupsCC(df: DataFrame, textCol: String, idCol: String,
                     threshold: Double = 0.8, candidateThreshold: Double = 0.5,
                     rowsPerBand: Int = 8,
                     qualityCol: Option[String] = None): DataFrame = {
    val pairs = verifiedNearDupPairs(df, textCol, idCol,
      threshold = threshold, candidateThreshold = candidateThreshold,
      rowsPerBand = rowsPerBand)
    dropComponentLosers(df, idCol, connectedComponents(pairs), qualityCol)
  }

  /** The keeper step of every cluster dedup: one left_anti join drops each
    * component member but its keeper (min id, or best `qualityCol`). */
  private[ops] def dropComponentLosers(df: DataFrame, idCol: String, comp: DataFrame,
                                       qualityCol: Option[String] = None): DataFrame = {
    val losers = qualityCol match {
      case None =>
        comp.filter(col("id") =!= col("component")).select(col("id").as(idCol))
      case Some(q) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("component")).orderBy(col("_q").desc, col("id"))
        val l = comp.join(df.select(col(idCol).as("id"), col(q).as("_q")), Seq("id"))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") > 1)
          .select(col("id").as(idCol))
        // when CC resolved locally, losers ≤ the 2^20 localThreshold ids —
        // but the attach-join + rank window hide that from size estimation,
        // so the final anti-join fell to SortMergeJoin and (pushed through
        // the caller's union) re-ran the window subtree per union arm with a
        // full id exchange each. The hint makes it ONE broadcast build +
        // ReusedExchange per arm, no corpus shuffle. The distributed-CC path
        // (unbounded losers) keeps size-based planning. NOTE: df.isLocal is
        // false here even for the local path (toDF projects over the
        // LocalRelation), hence the leaf check.
        val compIsLocal = comp.queryExecution.analyzed.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
        if (compIsLocal) broadcast(l) else l
    }
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Band keys larger than maxBucketSize as (_key, count): exactly the bands
    * the nearDupPairs cap drops (run it when dropped recall must be accounted). */
  def oversizedBands(df: DataFrame, textCol: String, rowsPerBand: Int = 8,
                     maxBucketSize: Int = 1 << 13): DataFrame =
    LshCandidates.oversized(bandKeys(buildDedupIndex(
      df.select(lit(0L).as("_id"), col(textCol)), textCol, "_id", rowsPerBand)), maxBucketSize)

  // ------------------------------------------------------- incremental dedup

  /** The narrow dedup-signature index for a corpus snapshot: one row per doc
    * with its exact-dup key (sha-256 digest) and near-dup keys (MinHash
    * signature + LSH band keys), computed in ONE text pass (the fused
    * MinHashSigBands expression plus sha2 ride the same projection). This is
    * the table an incremental crawl pipeline commits once per snapshot so
    * later batches dedup against the HISTORY without ever rescanning its
    * text: ~50× narrower than the corpus (id + 32-byte digest + 64 longs +
    * 8 band keys vs multi-KB documents), and append-only across snapshots.
    *
    * Schema: (_id, _digest STRING, _sig ARRAY<LONG>, _bands ARRAY<LONG>). */
  def buildDedupIndex(df: DataFrame, textCol: String, idCol: String,
                      rowsPerBand: Int = 8): DataFrame =
    df.select(col(idCol).as("_id"),
        sha2(encode(col(textCol), "UTF-8"), 256).as("_digest"),
        minhash_sig_bands(col(textCol), NumHashes, ShingleSize, rowsPerBand).as("_m"))
      .select(col("_id"), col("_digest"),
        col("_m.sig").as("_sig"), col("_m.bands").as("_bands"))

  /** Incremental dedup: classify every row of a NEW batch against a committed
    * signature index (buildDedupIndex output) as `exact` (identical text
    * already indexed), `near` (estimated shingle-Jaccard ≥ threshold against
    * some indexed doc), or `fresh` — the crawl-update shape at corpus scale,
    * where re-running full-corpus dedup per batch (q13's self-join) would
    * rescan the entire history for every arriving snapshot.
    *
    * Output: (idCol, status STRING, matched_id, est_jaccard DOUBLE) — one row
    * per new doc; matched_id is the min indexed id sharing the digest for
    * `exact`, the best near match (max estimate, ties to min id) for `near`,
    * NULL for `fresh`; est_jaccard is non-NULL only for `near`.
    *
    * Scale shape: the exact arm joins 32-byte digests against the index,
    * then takes the min id per batch row; the near arm shuffles only
    * (id, band) longs — band keys explode on BOTH sides and each side gets the
    * same oversized-bucket cap as nearDupPairs (boilerplate bands accumulate over
    * the whole history on the index side, and a boilerplate-heavy NEW batch —
    * the common crawl case — can put B rows in one band on the batch side,
    * paying up to B×maxBucketSize candidate amplification before the
    * distinct); signatures attach only to surviving candidate pairs.
    * New-batch text is hashed exactly once. Rows dropped by either cap are
    * still classified by the exact digest arm; only their NEAR matches are
    * forgone — the documented LSH-cap recall trade. */
  def dedupAgainstIndex(newDf: DataFrame, index: DataFrame,
                        textCol: String, idCol: String,
                        threshold: Double = 0.5,
                        rowsPerBand: Int = 8,
                        maxBucketSize: Int = 1 << 13): DataFrame = {
    // one text pass over the batch; materialized (lineage truncated) so the
    // exact arm, band explode, and signature attach read it, not the corpus
    val fresh = buildDedupIndex(newDf, textCol, idCol, rowsPerBand).localCheckpoint(true)
    // exact arm: batch digests join the index FIRST, then min-per-batch-row —
    // identical to pre-aggregating min-id-per-digest over the whole index
    // (ids are unique per the dedup-family contract), but the full-index
    // groupBy(_digest) exchange is gone: only MATCHED rows aggregate (map-side
    // combined), and with a small batch AQE broadcasts it so the historic
    // index is never shuffled at all on the exact arm
    val exactHit = fresh.select(col("_id"), col("_digest"))
      .join(index.select(col("_digest"), col("_id").as("_xid")), Seq("_digest"))
      .groupBy(col("_id")).agg(min(col("_xid")).as("_xid"))
    // the batch side gets the SAME cap (r07 verdict item: the index-side-only
    // cap left B×8192 amplification on the table for a degenerate batch band)
    val idxBands = LshCandidates.capped(bandKeys(index), maxBucketSize)
      .select(col("_id").as("_iid"), col("_key"))
    val newBands = LshCandidates.capped(bandKeys(fresh), maxBucketSize)
    val candidates = newBands.join(idxBands, Seq("_key"))
      .select(col("_id"), col("_iid")).distinct()
    val wBest = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_id")).orderBy(col("_est").desc, col("_iid").asc)
    val bestNear = LshCandidates.attach(candidates, "_id", "_iid",
        fresh.select(col("_id"), col("_sig").as("_v")),
        index.select(col("_id"), col("_sig").as("_v")))
      .withColumn("_est", LshCandidates.sigEstimate(NumHashes))
      .filter(col("_est") >= threshold)
      .withColumn("_rn", row_number().over(wBest))
      .filter(col("_rn") === 1)
      .select(col("_id"), col("_iid"), col("_est"))
    fresh.select(col("_id"))
      .join(exactHit, Seq("_id"), "left")
      .join(bestNear, Seq("_id"), "left")
      .select(
        col("_id").as(idCol),
        when(col("_xid").isNotNull, lit("exact"))
          .when(col("_iid").isNotNull, lit("near"))
          .otherwise(lit("fresh")).as("status"),
        when(col("_xid").isNotNull, col("_xid"))
          .otherwise(col("_iid")).as("matched_id"),
        when(col("_xid").isNull, round(col("_est"), 4)).as("est_jaccard"))
  }

  /** Crawl-update delta between two corpus snapshots keyed by `idCol` with
    * a content digest: `added` (id only in the new snapshot), `removed`
    * (only in the old), `changed` (both sides, digests differ),
    * `unchanged` (excluded by default — at recrawl scale it is the vast
    * majority and downstream work fans out from the OTHER three arms:
    * re-extract/re-index the changed+added, tombstone the removed). ONE
    * full-outer shuffle on the id; digests compare null-safe (a null
    * digest on one side of a matched id counts as changed). */
  def snapshotDelta(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                    digestCol: String,
                    includeUnchanged: Boolean = false): DataFrame = {
    // explicit presence markers: a matched id with a null digest on one
    // side must read as CHANGED, not added/removed — digest nullness alone
    // cannot distinguish absent-row from present-row-with-null-digest
    val o = oldDf.select(col(idCol), col(digestCol).as("old_digest"))
      .withColumn("_in_old", lit(true))
    val n = newDf.select(col(idCol), col(digestCol).as("new_digest"))
      .withColumn("_in_new", lit(true))
    val joined = o.join(n, Seq(idCol), "full_outer")
      .withColumn("change",
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(col("old_digest") <=> col("new_digest"), lit("unchanged"))
          .otherwise(lit("changed")))
      .drop("_in_old", "_in_new")
    if (includeUnchanged) joined else joined.filter(col("change") =!= "unchanged")
  }

  /** Commit a dedup-signature index as an immutable snapshot table — the
    * shared corpus-sized derived-table protocol (CatalogIO.writeDerived):
    * data + a manifest carrying row count and a distributed order-invariant
    * content digest; readers trust only manifested tables, so a crashed
    * half-write is retried, never half-read. */
  def writeDedupIndex(index: DataFrame, dir: String, runId: String): Unit =
    graft.pipeline.CatalogIO.writeDerived(index, dir, runId)

  /** Read a committed dedup index; refuses an unmanifested (half-written) dir. */
  def readDedupIndex(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.pipeline.CatalogIO.readDerived(spark, dir)

  /** Read-if-committed else build-and-commit (the AnnModelIO "train once,
    * search many" contract for the dedup index): the corpus text is scanned
    * and minhashed exactly once per snapshot dir, and every later batch
    * dedups against the committed narrow table. The returned frame is
    * bit-identical either way — buildDedupIndex is deterministic (splitmix64
    * hashing, no sampling) and parquet stores the longs losslessly. Same
    * staleness caveat as AnnModelIO.modelDir: key the dir by corpus snapshot
    * path; a corpus mutated in place keeps serving the old index. */
  def indexFor(df: DataFrame, textCol: String, idCol: String, dir: String,
               rowsPerBand: Int = 8, runId: String = "index"): DataFrame =
    graft.pipeline.CatalogIO.derivedFor(df.sparkSession, dir, runId)(
      buildDedupIndex(df, textCol, idCol, rowsPerBand))
}

/**
 * The near-dup candidate core of every LSH path (nearDupPairs,
 * fingerprintNearDupPairs, dedupAgainstIndex, SimilarityOps.embeddingNearDupPairs);
 * callers make their keys, place their checkpoint and verify. Keyed rows are
 * (_id, _key: LONG) with the table in the key's high bits: MinHash bands as
 * is, (t << 32) | block for fingerprints, (t << 24) | bucket for embeddings.
 */
private[ops] object LshCandidates {
  import org.apache.spark.sql.graft.ColumnBridge

  /** The bucket cap: a key shared by m rows yields m(m-1)/2 candidates, so a
    * window count over the join's own shuffle key drops rows of keys over
    * maxBucketSize (listed by `oversized`). dropSingletons also drops
    * one-member keys: exact for a self-join, but a probe or two-sided join
    * still matches a singleton. */
  def capped(keyed: DataFrame, maxBucketSize: Int, dropSingletons: Boolean = false): DataFrame = {
    val size = col("_bsize")
    keyed.withColumn("_bsize", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_key"))))
      .filter(if (dropSingletons) size.between(2, maxBucketSize) else size <= maxBucketSize)
      .drop("_bsize")
  }

  /** The skew diagnostic: (_key, count) of every key the cap drops. */
  def oversized(keyed: DataFrame, maxBucketSize: Int): DataFrame =
    keyed.groupBy(col("_key")).count().filter(col("count") > maxBucketSize)

  /** Distinct pairs (a < b) sharing a capped key (at scale one key exchange
    * plus its reuse); a narrow `payload` column rides along as (_pa, _pb). */
  def selfJoin(keyed: DataFrame, maxBucketSize: Int, payload: Option[String] = None): DataFrame = {
    val k = capped(keyed, maxBucketSize, dropSingletons = true)
    val carried = payload.toSeq.flatMap(p => Seq(col(s"x.$p").as("_pa"), col(s"y.$p").as("_pb")))
    k.as("x").join(k.as("y"), col("x._key") === col("y._key") && col("x._id") < col("y._id"))
      .select(Seq(col("x._id").as("a"), col("y._id").as("b")) ++ carried: _*)
      .distinct() // a pair may share several keys
  }

  /** `_v` of the (_id, _v) frames onto both pair sides: _va at `a`, _vb at
    * `b`. Ids must be unique: a duplicated id multiplies the pair's rows. */
  def attach(pairs: DataFrame, a: String, b: String,
             aValues: DataFrame, bValues: DataFrame): DataFrame =
    pairs
      .join(aValues.select(col("_id").as("_ida"), col("_v").as("_va")), col(a) === col("_ida"))
      .drop("_ida")
      .join(bValues.select(col("_id").as("_idb"), col("_v").as("_vb")), col(b) === col("_idb"))
      .drop("_idb")

  /** Estimated Jaccard of attached signatures (_va, _vb) by native match
    * count (aggregate(zip_with) costs ~64 Expression.eval calls per pair). */
  def sigEstimate(numHashes: Int): Column =
    ColumnBridge.column(graft.expr.SigMatchCount(
      ColumnBridge.expression(col("_va")), ColumnBridge.expression(col("_vb"))))
      .cast("double") / numHashes
}
