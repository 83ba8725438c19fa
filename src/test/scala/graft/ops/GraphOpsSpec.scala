package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Fixed-point PageRank on a hand-computable graph. All arithmetic is Long
  * floor division, so every expected value below is derived by replaying the
  * documented recurrence by hand. */
class GraphOpsSpec extends AnyFunSuite with SparkTestBase {

  import spark.implicits._

  // a -> b, a -> c, b -> c; c dangles (contributes nothing)
  private def edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")

  test("pageRank: two hand-unrolled iterations on a 3-node chain") {
    // r0 = 1_000_000 each; deg(a)=2, deg(b)=1
    // iter1: in(b) = 1000000 div 2 = 500000 ; in(c) = 500000 + 1000000
    //   r1(a) = 150000 ; r1(b) = 150000 + 850*500000 div 1000 = 575000
    //   r1(c) = 150000 + 850*1500000 div 1000 = 1425000
    // iter2: in(b) = 150000 div 2 = 75000 ; in(c) = 75000 + 575000 = 650000
    //   r2(a) = 150000 ; r2(b) = 150000 + 850*75000 div 1000 = 213750
    //   r2(c) = 150000 + 850*650000 div 1000 = 702500
    val got = GraphOps.pageRank(edges, "src", "dst", iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 150000L, "b" -> 213750L, "c" -> 702500L))
  }

  test("pageRank: zero iterations returns the uniform init; multi-edges count once") {
    val got0 = GraphOps.pageRank(edges, "src", "dst", iters = 0)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got0 == Map("a" -> 1000000L, "b" -> 1000000L, "c" -> 1000000L))
    val dup = edges.unionByName(edges) // same edges twice
    val got = GraphOps.pageRank(dup, "src", "dst", iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got("c") == 702500L, "duplicate edges must not double-count contributions")
  }

  test("pageRank: partition-count invariance (Long floor math, no float sums)") {
    val e = (0L until 400L).map(i => (s"h${i % 20}", s"h${(i * 7 + 3) % 20}")).toDF("src", "dst")
    val a = GraphOps.pageRank(e.repartition(1), "src", "dst", iters = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val b = GraphOps.pageRank(e.repartition(17), "src", "dst", iters = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("hostDegrees: in/out rollup with zero-fill on one-sided hosts") {
    val got = GraphOps.hostDegrees(edges, "src", "dst")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 2L, 0L), ("b", 1L, 1L), ("c", 0L, 2L)))
  }

  test("deep runs stay computable (the every-10-iterations lineage checkpoint)") {
    // 25 iterations on a cycle: total rank is conserved by the recurrence up
    // to floor truncation, and the run must not blow up analysis time
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val got = GraphOps.pageRank(e, "src", "dst", iters = 25)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // a 3-cycle with outdeg 1 everywhere sits exactly AT the fixed point:
    // r = 150000 + 850*1000000 div 1000 = 1000000, no truncation drift
    assert(got.values.toSet == Set(1000000L), got.toString)
  }

  test("iterations reuse the persisted edge frame — raw input scans stay constant in iters") {
    // the raw edge input rides in via an accumulator-counting RDD: if each
    // iteration's plan re-executed the edge distinct + degree agg (the lazy
    // round-5 shape), raw scans would grow with the iteration count
    def scansFor(iters: Int): Long = {
      val acc = spark.sparkContext.longAccumulator(s"edge-scans-$iters")
      val rdd = spark.sparkContext
        .parallelize((0L until 400L).map(i => org.apache.spark.sql.Row(s"h${i % 20}", s"h${(i * 7 + 3) % 20}")), 4)
        .mapPartitions { it => acc.add(1); it }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("src", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("dst", org.apache.spark.sql.types.StringType)))
      val df = spark.createDataFrame(rdd, schema)
      GraphOps.pageRank(df, "src", "dst", iters = iters).collect()
      acc.value
    }
    // the persist engages at iters >= 3 (at <=2 the doubled lazy scan is
    // cheaper than cache materialization — see GraphOps); compare two
    // persisted depths: scans must not grow with the iteration count
    val s3 = scansFor(3)
    val s8 = scansFor(8)
    assert(s8 == s3, s"raw edge input scanned $s8 partition-times at 8 iters vs $s3 at 3 — iteration reuse broken")
  }

  test("dangling-mass redistribution conserves total rank (hand-unrolled)") {
    // a -> b, b dangling. iter 1: share = 850*1e6/(1000*2) = 425000 →
    // r(a) = 150000+425000 = 575000, r(b) = 575000+850000 = 1425000 (Σ = 2e6).
    // iter 2: share = 850*1425000/2000 = 605625 → r(a) = 755625,
    // r(b) = 755625 + 850*575000 div 1000 = 1244375 (Σ = 2e6 again).
    val e = Seq(("a", "b")).toDF("src", "dst")
    val got = GraphOps.pageRank(e, "src", "dst", iters = 2, redistributeDangling = true)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 755625L, "b" -> 1244375L), got.toString)
    assert(got.values.sum == 2000000L, "total rank must be conserved")
    // default (off) keeps the documented drop semantics the q83 oracle pins:
    // the dangling node's mass vanishes, so total rank shrinks
    val off = GraphOps.pageRank(e, "src", "dst", iters = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(off.values.sum < 2000000L, s"drop semantics must lose mass: $off")
  }

  test("pageRank leaves no iteration caches persisted behind") {
    val before = spark.sparkContext.getPersistentRDDs.size
    GraphOps.pageRank(edges, "src", "dst", iters = 3).collect()
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the RESULT's localCheckpoint may linger; withDeg/nodes must not
    assert(after - before <= 1, s"persisted-RDD delta ${after - before} — unpersist leak")
  }

  test("convergence stop: a graph at its fixed point stops early with identical ranks") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    // stage count is the honest iteration probe: the full run is ONE lazy
    // mega-plan (few jobs, ~3 stages per iteration); the converged run must
    // execute a small constant number of iterations' worth of stages
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    def run(delta: Long): (Map[String, Long], Int) = {
      spark.sparkContext.addSparkListener(listener)
      stages.set(0)
      val got = GraphOps.pageRank(e, "src", "dst", iters = 25, convergeDelta = delta)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      awaitCount(stages.get().toLong)
      spark.sparkContext.removeSparkListener(listener)
      (got, stages.get())
    }
    val (full, stagesFull) = run(0L)
    val (conv, stagesConv) = run(1L)
    assert(full == conv, "early stop changed the fixed-point result")
    assert(full.values.toSet == Set(1000000L))
    assert(stagesConv < stagesFull / 2,
      s"converged run executed $stagesConv stages vs $stagesFull for the full run — early stop not firing")
  }

  test("convergence probe off the last step: delta>0 with iters=2 matches the unrolled result") {
    val got = GraphOps.pageRank(edges, "src", "dst", iters = 2, convergeDelta = 1L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 150000L, "b" -> 213750L, "c" -> 702500L))
  }

  test("null endpoints drop out of the edge set") {
    val e = Seq((Some("a"), Some("b")), (None, Some("b")), (Some("a"), None))
      .toDF("src", "dst")
    val got = GraphOps.pageRank(e, "src", "dst", iters = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // one edge a->b: r1(a)=150000, r1(b)=150000+850*1000000 div 1000=1000000
    assert(got == Map("a" -> 150000L, "b" -> 1000000L))
  }

  test("dangling redistribution: iteration 0's mass probe is closed-form, no probe job") {
    // the initial ranks are uniform (InitRank), so iteration 0's dangling sum
    // is nDangling·InitRank — computed in the one setup agg, never as a
    // per-iteration probe job. Probe actions are labeled with job
    // descriptions inside GraphOps (raw job counts/call sites are noisy:
    // broadcast-exchange builds and AQE stage materializations each start
    // their own job), so count by label: a 1-iteration run must fire ZERO
    // "dangling mass probe" jobs — a reintroduced it-0 probe (the semi-join
    // shape this replaced) fires one.
    // distinct labels, not job counts: one probe's first() may launch several
    // incremental executeTake jobs, all carrying the same it=N description
    val probes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // every job start, labelled or not: the drain settles on this tally
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        if (desc.contains("dangling mass probe")) { probes.add(desc); () }
      }
    }
    val e = Seq(("a", "b")).toDF("src", "dst").localCheckpoint(true)
    spark.sparkContext.addSparkListener(listener)
    val ranks = GraphOps.pageRank(e, "src", "dst", iters = 1, redistributeDangling = true)
    awaitCount(jobs.get().toLong)
    spark.sparkContext.removeSparkListener(listener)
    assert(probes.isEmpty,
      s"dangling-mass probes $probes fired for a 1-iteration run (expected none: " +
        "iteration 0's mass is closed-form) — a per-iteration it-0 probe is back")
    // complement: a 2-iteration run fires exactly one probe (it=1) — proves
    // the label counting is live, not vacuous
    probes.clear()
    spark.sparkContext.addSparkListener(listener)
    GraphOps.pageRank(e, "src", "dst", iters = 2, redistributeDangling = true).count()
    awaitCount(jobs.get().toLong)
    spark.sparkContext.removeSparkListener(listener)
    assert(probes.size() == 1,
      s"dangling-mass probes $probes for a 2-iteration run (expected exactly it=1's)")
    // share = 850*1e6/(1000*2) = 425000: r1(a) = 575000, r1(b) = 1425000
    val got = ranks.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 575000L, "b" -> 1425000L), got.toString)
    // the internal dangling flag must never reach the caller
    assert(ranks.columns.toSeq == Seq("host", "rank_micro"), ranks.columns.mkString(","))
  }
}
