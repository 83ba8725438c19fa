package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class DedupOpsSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("dropExactDups keeps exactly one row per text, smallest id") {
    val s = spark
    import s.implicits._
    val withDups = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val deduped = DedupOps.dropExactDups(withDups, "text", "doc_id")
    assert(deduped.count() == docs.count())
    assert(deduped.agg(max("doc_id")).as[Long].head() < 10000) // originals kept
  }

  test("nearDupPairs recall on by-construction near-dups (drop first token)") {
    val mutated = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val all = docs.select(col("doc_id"), col("text")).unionByName(mutated)
    val pairs = DedupOps.nearDupPairs(all, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = docs.select("doc_id").collect().map(_.getLong(0))
      .map(i => (i, i + 1000000L)).toSet
    val recall = expected.count(pairs.contains).toDouble / expected.size
    assert(recall >= 0.9, f"near-dup recall $recall%.2f")
    // precision: every extra pair must be a GENUINE near-dup — the driver's
    // documents table contains real near-dup clusters (e.g. J>0.95 pairs),
    // verified here against exact shingle Jaccard
    val texts = all.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val extras = (pairs -- expected).toSeq
    val genuine = extras.count { case (a, b) =>
      graft.text.TextHash.shingleJaccard(texts(a), texts(b), 3) >= 0.3
    }
    assert(extras.isEmpty || genuine.toDouble / extras.size >= 0.9,
      s"non-genuine extra pairs: ${extras.size - genuine}/${extras.size}")
  }

  test("dropNearDups removes the mutated copies, keeps originals") {
    val mutated = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val all = docs.select(col("doc_id"), col("text")).unionByName(mutated)
    val kept = DedupOps.dropNearDups(all, "text", "doc_id", threshold = 0.5)
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    // originals kept except members of the table's own genuine near-dup clusters
    // (the driver's documents table contains real J>0.95 pairs)
    assert(keptIds.count(_ < 1000000L) >= docs.count() * 9 / 10)
    assert(keptIds.count(_ >= 1000000L) <= docs.count() / 10) // most copies dropped
    // the semantic guarantee: no kept mutated copy whose original was kept too
    val survivingCopies = keptIds.filter(_ >= 1000000L).map(_ - 1000000L)
    assert((survivingCopies & keptIds).size <= docs.count() / 20)
  }

  test("verifiedNearDupPairs: output jaccard equals the exact driver-side value") {
    val mutated = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val all = docs.select(col("doc_id"), col("text")).unionByName(mutated)
    val pairs = DedupOps.verifiedNearDupPairs(all, "text", "doc_id",
      threshold = 0.8, candidateThreshold = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.nonEmpty)
    val texts = all.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    pairs.foreach { case ((a, b), j) =>
      val exact = graft.text.TextHash.shingleJaccard(texts(a), texts(b), 3)
      assert(math.abs(j - exact) < 0.0001, s"($a,$b): $j vs $exact")
      assert(j >= 0.8)
    }
    // the constructed (i, i+1M) pairs with high exact jaccard must be found
    val expected = texts.keys.filter(_ < 1000000L).filter { i =>
      texts.contains(i + 1000000L) &&
        graft.text.TextHash.shingleJaccard(texts(i), texts(i + 1000000L), 3) >= 0.85
    }.map(i => (i, i + 1000000L)).toSet
    val found = expected.count(pairs.contains)
    assert(found.toDouble / expected.size >= 0.9, s"$found/${expected.size}")
  }

  test("embeddingNearDupPairs finds mirrored-vector duplicates via LSH buckets") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    // construct exact duplicates: copy vectors with offset ids → cosine 1.0
    val dup = emb.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
    val all = emb.unionByName(dup)
    val pairs = graft.ops.SimilarityOps.embeddingNearDupPairs(all, "embedding", "vec_id", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = emb.select("vec_id").collect().map(_.getLong(0))
      .map(i => (i, i + 1000000L)).toSet
    // identical vectors share every LSH bucket → recall 1.0 on exact dups
    assert(expected.forall(pairs.contains), s"missing ${expected.count(p => !pairs.contains(p))}")
  }

  test("simhashNearDupPairs: block-permuted tables give EXACT hamming<=d pair set") {
    val mutated = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val all = docs.select(col("doc_id"), col("text")).unionByName(mutated)
    for (d <- Seq(3, 8)) {
      val pairs = DedupOps.simhashNearDupPairs(all, "text", "doc_id", maxHamming = d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // brute-force truth: pigeonhole blocking guarantees FULL recall, and the
      // popcount verify guarantees full precision — the sets must be EQUAL
      val sims = all.collect().map(r => r.getLong(0) -> graft.text.TextHash.simhash64(r.getString(1)))
      val truth = (for {
        (ia, sa) <- sims; (ib, sb) <- sims
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= d
      } yield (ia, ib)).toSet
      assert(pairs == truth,
        s"d=$d missing=${(truth -- pairs).size} extra=${(pairs -- truth).size} truth=${truth.size}")
    }
  }

  test("fingerprintNearDupPairs: image dHash fingerprints through the same machinery") {
    import spark.implicits._
    // per-row stripe images: base pattern 21 (alternating) plus one-row
    // perturbations at growing Hamming distance; an undecodable payload
    // must drop out (NULL fingerprint), not bucket with anything
    val e = graft.media.ImageEncode
    val bright = (200, 150, 100); val dark = (10, 30, 5)
    def img(rows: Seq[Int]) = e.bmpRowStripes(18, 16, rows, bright, dark)
    val base = Seq.fill(8)(21)
    val frames: Seq[(Long, Array[Byte])] = Seq(
      1L -> img(base),
      2L -> img(base.updated(3, 20)),         // one row: edge-mask bit 0 flips → hamming 1
      3L -> img(base.updated(0, 0).updated(1, 0).updated(2, 0).updated(3, 0)), // 4 rows wiped
      4L -> img(base),                        // exact dup of 1
      5L -> Array[Byte](1, 2, 3))             // undecodable → NULL
    val df = frames.toDF("doc_id", "payload")
      .select(col("doc_id"), graft.functions.image_dhash(col("payload")).as("fp"))
    val got = DedupOps.fingerprintNearDupPairs(df, "fp", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // truth by brute force over the materialized hashes
    val fps = df.filter(col("fp").isNotNull).collect().map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ia, ib, java.lang.Long.bitCount(fa ^ fb))).toSet
    assert(got == truth, s"got=$got truth=$truth")
    assert(got.contains((1L, 4L, 0)) && got.contains((1L, 2L, 1)), got.toString)
    assert(!got.exists(p => p._1 == 5L || p._2 == 5L), "null fingerprint must not pair")
  }

  test("connectedComponents: chains, stars, disjoint clusters, partition invariance") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4, star 10-{11,12,13}, edge 20-21, isolated pair 30-31
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L), (30L, 31L)).toDF("a", "b")
    def comps(parts: Int, localThreshold: Long): Map[Long, Long] =
      DedupOps.connectedComponents(pairs.repartition(parts), localThreshold = localThreshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c = comps(2, localThreshold = 1L << 22) // driver union-find path
    assert(Seq(1L, 2L, 3L, 4L).forall(c(_) == 1L), c.toString)
    assert(Seq(10L, 11L, 12L, 13L).forall(c(_) == 10L))
    assert(c(20L) == 20L && c(21L) == 20L && c(30L) == 30L && c(31L) == 30L)
    assert(comps(7, 1L << 22) == c) // partitioning-invariant
    // the distributed min-label path (forced) must agree exactly
    assert(comps(3, localThreshold = 0L) == c)
  }

  test("dropNearDupsCC keeps exactly one canonical row per near-dup cluster") {
    // three-level mutation chain: doc ~ drop-1-token ~ drop-2-tokens — all
    // three pairwise J >= 0.8 for these long docs, forming one cluster of 3
    val m1 = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    val m2 = docs.select((col("doc_id") + 2000000L).as("doc_id"),
      expr("substring(substring(text, instr(text, ' ') + 1), instr(substring(text, instr(text, ' ') + 1), ' ') + 1)").as("text"))
    val all = docs.select(col("doc_id"), col("text")).unionByName(m1).unionByName(m2)
    val kept = DedupOps.dropNearDupsCC(all, "text", "doc_id",
      threshold = 0.8, candidateThreshold = 0.4, rowsPerBand = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // every mutated copy dropped; each cluster's canonical (min id) kept
    assert(kept.forall(_ < 1000000L), s"mutated survivors: ${kept.count(_ >= 1000000L)}")
    // originals kept except non-min members of the table's OWN genuine clusters
    assert(kept.size >= docs.count() * 9 / 10)
    // canonical-representative semantics: for every dropped original, some
    // smaller kept id must be its component head — spot-check via known pairs
    val n = all.filter(col("doc_id") < 1000000L).count()
    assert(kept.size < n) // genuine clusters in testdata do collapse
  }

  test("dropNearDupsCC quality keeper: best member wins, ties break to min id, singletons untouched") {
    import spark.implicits._
    val words = (1 to 40).map(i => s"w$i").mkString(" ")
    val all = Seq(
      // cluster {1,2,3}: id 3 has the best quality and must be the keeper
      (1L, words, 10L), (2L, words, 20L), (3L, words, 30L),
      // cluster {10,11} (disjoint token set): quality tie — min id 10 wins
      (10L, (1 to 40).map(i => s"y$i").mkString(" "), 7L),
      (11L, (1 to 40).map(i => s"y$i").mkString(" "), 7L),
      // singleton: never enters the pair graph, always kept
      (20L, "completely different short text", 1L)
    ).toDF("doc_id", "text", "quality")
    val kept = DedupOps.dropNearDupsCC(all, "text", "doc_id",
      threshold = 0.8, candidateThreshold = 0.4, rowsPerBand = 4,
      qualityCol = Some("quality"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 10L, 20L), kept.toString)
    // default contract unchanged: min id keeps
    val keptDefault = DedupOps.dropNearDupsCC(all, "text", "doc_id",
      threshold = 0.8, candidateThreshold = 0.4, rowsPerBand = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptDefault == Set(1L, 10L, 20L), keptDefault.toString)
  }

  test("snapshotDelta: added/removed/changed arms; null digests null-safe; unchanged excluded") {
    import spark.implicits._
    val oldS = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "digest")
    val newS = Seq((1L, "a"), (2L, "B"), (5L, "e"), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "digest")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "change").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val delta = rows(DedupOps.snapshotDelta(oldS, newS, "doc_id", "digest"))
    // 1 unchanged (excluded), 2 changed, 3 removed, 5 added; 4 has null
    // digests BOTH sides — matched + null-safe-equal = unchanged, excluded
    assert(delta == Map(2L -> "changed", 3L -> "removed", 5L -> "added"), delta.toString)
    // a matched id with a null digest on exactly ONE side is CHANGED —
    // presence decides added/removed, never digest nullness
    val oneNull = rows(DedupOps.snapshotDelta(
      Seq((7L, null.asInstanceOf[String]), (8L, "x")).toDF("doc_id", "digest"),
      Seq((7L, "abc"), (8L, null.asInstanceOf[String])).toDF("doc_id", "digest"),
      "doc_id", "digest"))
    assert(oneNull == Map(7L -> "changed", 8L -> "changed"), oneNull.toString)
    val all = rows(DedupOps.snapshotDelta(oldS, newS, "doc_id", "digest",
      includeUnchanged = true))
    assert(all == delta ++ Map(1L -> "unchanged", 4L -> "unchanged"), all.toString)
  }

  test("embeddingNearDupPairs on an empty frame returns empty, not a driver crash") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 0)
    assert(graft.ops.SimilarityOps.embeddingNearDupPairs(emb, "embedding", "vec_id").count() == 0)
  }

  test("incremental dedup: exact/near/fresh classification against a committed index") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-idx").toString
    val base = docs.select(col("doc_id"), col("text"))
    val index = DedupOps.indexFor(base, "text", "doc_id", dir)
    // the q98 batch construction: every third doc re-sent unchanged (exact),
    // token-shifted (near), or replaced by doc-id-salted tokens (fresh)
    val id = col("doc_id").cast("string")
    val batch = base.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      when(col("doc_id") % 3 === 0, col("text"))
        .when(col("doc_id") % 3 === 1, expr("substring(text, instr(text, ' ') + 1)"))
        .otherwise(concat(lit("zx"), id, lit(" qv"), id, lit(" wm"), id, lit(" rk"), id))
        .as("text"))
    val out = DedupOps.dedupAgainstIndex(batch, index, "text", "doc_id", 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    val texts = base.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == texts.size) // one verdict per batch row
    // exact arm: matched_id is the MIN indexed id sharing the text (digest)
    val minByText = texts.groupBy(_._2).map { case (t, m) => t -> m.keys.min }
    texts.keys.filter(_ % 3 == 0).foreach { i =>
      val (st, m) = out(i + 1000000L)
      assert(st == "exact" && m == minByText(texts(i)), s"doc $i: $st/$m")
    }
    // near arm: high recall, and every match is genuinely similar text
    val nearIds = texts.keys.filter(_ % 3 == 1).toSeq
    val nearHits = nearIds.filter(i => out(i + 1000000L)._1 == "near")
    assert(nearHits.size.toDouble / nearIds.size >= 0.9,
      s"near recall ${nearHits.size}/${nearIds.size}")
    nearHits.foreach { i =>
      val m = out(i + 1000000L)._2
      val batchText = texts(i).substring(texts(i).indexOf(' ') + 1)
      assert(graft.text.TextHash.shingleJaccard(batchText, texts(m), 3) >= 0.3,
        s"doc $i matched dissimilar index doc $m")
    }
    // fresh arm: salted tokens overlap nothing — no match, NULL matched_id
    texts.keys.filter(_ % 3 == 2).foreach { i =>
      assert(out(i + 1000000L) == (("fresh", -1L)), s"doc $i: ${out(i + 1000000L)}")
    }
  }

  test("dedup index: committed round trip is bit-identical; unmanifested dir refused") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-idx-rt").toString
    val base = docs.select(col("doc_id"), col("text"))
    val built = DedupOps.buildDedupIndex(base, "text", "doc_id")
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getSeq[Long](2).toList, r.getSeq[Long](3).toList)
    DedupOps.writeDedupIndex(built, dir, "run-1")
    val back = DedupOps.readDedupIndex(spark, dir)
    assert(back.collect().map(key).toSet == built.collect().map(key).toSet)
    // indexFor on a committed dir reads, never rebuilds (manifest untouched)
    def manifests = {
      val d = new java.io.File(dir)
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f.getPath + ":" + f.lastModified())
      walk(d).sorted
    }
    val before = manifests
    val again = DedupOps.indexFor(base, "text", "doc_id", dir)
    assert(manifests == before, "indexFor rewrote a committed index")
    assert(again.collect().map(key).toSet == built.collect().map(key).toSet)
    // a half-write (data, no manifest) must be refused, not half-read
    val dir2 = java.nio.file.Files.createTempDirectory("dedup-idx-half").toString
    built.write.parquet(s"$dir2/data")
    intercept[IllegalArgumentException] { DedupOps.readDedupIndex(spark, dir2) }
  }

  test("incremental dedup: index-side cap bounds degenerate history; digest arm still exact") {
    val s = spark
    import s.implicits._
    // 300 token-identical docs in the INDEX — every band key of that text is
    // shared by all 300, far over the cap; without the index-side filter the
    // candidate join would emit 300 candidates per matching batch row
    val degenerate = (0 until 300).map(i => (5000000L + i, "same same same tokens here"))
    val all = docs.select(col("doc_id"), col("text"))
      .unionByName(degenerate.toDF("doc_id", "text"))
    val index = DedupOps.buildDedupIndex(all, "text", "doc_id")
    val batch = Seq(
      (9000001L, "same same same tokens here"),   // identical to the degenerate text
      (9000002L, "same same same tokens there")   // near it, but only via capped bands
    ).toDF("doc_id", "text")
    val out = DedupOps.dedupAgainstIndex(batch, index, "text", "doc_id", 0.5,
      maxBucketSize = 100)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    // the exact arm joins digests (one pre-aggregated row per distinct digest),
    // so degeneracy never reaches it: still caught, min indexed id returned
    assert(out(9000001L) == (("exact", 5000000L)), out.toString)
    // the near arm's capped buckets drop the candidates — bounded, diagnosable
    // via oversizedBands, and the verdict degrades to fresh rather than blowing up
    assert(out(9000002L) == (("fresh", -1L)), out.toString)
  }

  test("incremental dedup: BATCH-side cap bounds a boilerplate-heavy batch; digest arm still exact") {
    val s = spark
    import s.implicits._
    // healthy index, degenerate BATCH: 300 token-identical new docs share
    // every band key — the r07-verdict case the index-side-only cap missed
    // (B rows in one batch band × up to maxBucketSize index rows of
    // candidate-join amplification before the distinct)
    val index = DedupOps.buildDedupIndex(
      docs.select(col("doc_id"), col("text"))
        .unionByName(Seq((5000000L, "same same same tokens here")).toDF("doc_id", "text")),
      "text", "doc_id")
    val degenerateBatch = (0 until 300).map(i => (9000000L + i, "same same same tokens here"))
    val batch = degenerateBatch.toDF("doc_id", "text")
      .unionByName(Seq((9500000L, "an ordinary fresh document body")).toDF("doc_id", "text"))
    val out = DedupOps.dedupAgainstIndex(batch, index, "text", "doc_id", 0.5,
      maxBucketSize = 100)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out.size == 301)
    // every degenerate batch row still classifies EXACT through the digest
    // arm (capping the near bands must not lose the cheap exact verdict)
    degenerateBatch.foreach { case (id, _) =>
      assert(out(id) == (("exact", 5000000L)), s"$id -> ${out(id)}")
    }
    assert(out(9500000L)._1 == "fresh")
    // and the capped near arm emits no candidate rows from the degenerate
    // bands: batch bands over the cap are excluded before the join
    val fresh = DedupOps.buildDedupIndex(batch, "text", "doc_id")
    val bandCounts = fresh.select(col("_id"), explode(col("_bands")).as("_b"))
      .groupBy(col("_b")).count()
    assert(bandCounts.filter(col("count") > 100).count() > 0,
      "fixture no longer degenerate — test vacuous")
  }

  test("bucket caps bound degenerate keys: no quadratic blowup, diagnosable") {
    val s = spark
    import s.implicits._
    // each path gets 300 identical rows (every key of that row is one
    // degenerate bucket) next to the normal corpus, with maxBucketSize = 100.
    // Per path: the capped join leaks no degenerate pair, its pairs among the
    // normal rows equal the uncapped join's (the cap dropped nothing else),
    // and the diagnostic lists EXACTLY the degenerate row's keys, derived here
    // independently of the join's key code.
    def pairSet(df: org.apache.spark.sql.DataFrame, lo: Long) =
      df.filter(col("a") < lo && col("b") < lo).select(col("a"), col("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def keySet(over: org.apache.spark.sql.DataFrame) = {
      val rows = over.collect()
      assert(rows.forall(_.getLong(1) >= 300), rows.mkString(","))
      rows.map(_.getLong(0)).toSet
    }

    // MinHash bands: without the cap the degenerate key alone yields
    // 300*299/2 = 44850 pairs
    val text = "same same same tokens here"
    val degenerate = (0 until 300).map(i => (5000000L + i, text))
    val all = docs.select(col("doc_id"), col("text"))
      .unionByName(degenerate.toDF("doc_id", "text"))
    val capped = DedupOps.nearDupPairs(all, "text", "doc_id",
      threshold = 0.5, maxBucketSize = 100)
    val degeneratePairs = capped.filter(col("a") >= 5000000L).count()
    assert(degeneratePairs == 0, s"degenerate bucket leaked $degeneratePairs pairs")
    assert(pairSet(capped, 5000000L) ==
      pairSet(DedupOps.nearDupPairs(all, "text", "doc_id", threshold = 0.5), 5000000L))
    val bands = graft.text.TextHash.bandKeys(graft.text.TextHash.minhash(text, 64, 3), 8).toSet
    assert(keySet(DedupOps.oversizedBands(all, "text", maxBucketSize = 100)) == bands)

    // SimHash/dHash fingerprints: block t of fp packs as (t << 32) | block
    val fp = 0x0123456789abcdefL
    val fps = docs.select(col("doc_id"), graft.functions.splitmix64(col("doc_id")).as("fp"))
      .unionByName(spark.range(7000000L, 7000300L)
        .select(col("id").as("doc_id"), lit(fp).as("fp")))
    val cappedFp = DedupOps.fingerprintNearDupPairs(fps, "fp", "doc_id",
      maxHamming = 3, maxBucketSize = 100)
    assert(cappedFp.filter(col("a") >= 7000000L).count() == 0)
    assert(pairSet(cappedFp, 7000000L) ==
      pairSet(DedupOps.fingerprintNearDupPairs(fps, "fp", "doc_id", maxHamming = 3), 7000000L))
    val blocks = (0 until 4).map(t => (t.toLong << 32) | ((fp << (t * 16)) >>> 48)).toSet
    assert(keySet(LshCandidates.oversized(
      DedupOps.fingerprintKeys(fps, "fp", "doc_id", maxHamming = 3), 100)) == blocks)

    // embedding buckets: the diagnostic's default k is the join's (planesFor
    // over the row count); table t's bucket packs as (t << 24) | bucket
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val massDup = emb.limit(1).select(col("embedding")).crossJoin(
      spark.range(6000000L, 6000300L).toDF("vec_id")).select(col("vec_id"), col("embedding"))
    val allEmb = emb.select(col("vec_id"), col("embedding")).unionByName(massDup).cache()
    val cappedEmb = SimilarityOps.embeddingNearDupPairs(
      allEmb, "embedding", "vec_id", threshold = 0.999, maxBucketSize = 100)
    assert(cappedEmb.filter(col("a") >= 6000000L).count() == 0)
    assert(pairSet(cappedEmb, 6000000L) == pairSet(SimilarityOps.embeddingNearDupPairs(
      allEmb, "embedding", "vec_id", threshold = 0.999), 6000000L))
    val k = SimilarityOps.planesFor(allEmb.count())
    val v = allEmb.filter(col("vec_id") === 6000000L)
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
    val dim = SimilarityOps.embeddingDim(allEmb, "embedding")
    val buckets = v.select((0 until 4).map(t => SimilarityOps.lshBucket(col("v"),
      SimilarityOps.lshPlanes(k, dim, seed = t.toLong * 0x9e37L))): _*).head()
    val embKeys = (0 until 4).map(t => (t.toLong << 24) | buckets.getInt(t)).toSet
    assert(keySet(SimilarityOps.oversizedBuckets(allEmb, "embedding", maxBucketSize = 100)) ==
      embKeys)
    allEmb.unpersist()
  }
}
