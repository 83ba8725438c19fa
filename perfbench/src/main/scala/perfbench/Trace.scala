package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One interval of the traced run, on the JVM's nanoTime clock.
  * kind: `iter` (a timed part), `call` (a public call the benchmark makes),
  * `exec` (a Spark SQL execution), `job` (a Spark job outside any execution). */
final case class Span(id: Long, parent: Long, kind: String, layer: String, name: String,
                      label: String, run: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Task-level totals of one traced timed part, from the listener. */
final case class SparkTotals(shuffleWrite: Long, shuffleRead: Long, spill: Long, gcMs: Long,
                             runMs: Long, failedTasks: Long, taskSkew: Double)

/** What the tracer saw of one timed part: its root span, the calls under
  * it, their execution/job spans, the task totals and the physical plans
  * of the root executions. */
final case class Traced(root: Span, calls: Vector[Span], subs: Seq[Span],
                        totals: SparkTotals, plans: Seq[String])

/** A timed part's result and wall time (the root span when traced). */
final case class Timed[T](value: T, wallNs: Long, traced: Option[Traced])

/** Keeps spans in memory. Off (the default), `call` only runs its body. On,
  * every call gets a span and a `perfbench.span` local property, so the
  * Spark jobs it submits (AQE's stage jobs included — they inherit the
  * submitting thread's properties) name the call that caused them; each SQL
  * execution becomes a child span labelled with its call-site description. */
final class Tracer(sc: SparkContext) {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  private def fromEpochMs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  private var nextId = 0L
  private var stack: List[Long] = Nil
  private var run = ""
  private var on = false
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Runs one timed part. Traced, it is a root span with the listener
    * attached; `classify(parentCall, exec)` labels each execution. */
  def iteration[T](runId: String, name: String, traced: Boolean,
                   classify: (Span, TraceListener.Exec, Boolean) => String)(body: => T): Timed[T] = {
    if (!traced) {
      val t0 = System.nanoTime()
      val out = body
      return Timed(out, System.nanoTime() - t0, None)
    }
    val listener = new TraceListener
    sc.addSparkListener(listener)
    run = runId
    on = true
    val before = spans.length
    val out = try call("bench", name, kind = "iter")(body) finally {
      on = false
      org.apache.spark.perfbench.BusDrain(sc)
      sc.removeSparkListener(listener)
    }
    val own = spans.drop(before).toVector
    val root = own.find(_.kind == "iter").get
    val sub = listener.spans(own, fromEpochMs, () => { nextId += 1; nextId }, classify, run)
    spans ++= sub
    Timed(out, root.durNs, Some(Traced(root, own.filter(_.kind == "call"), sub,
      listener.totals, listener.rootPlans)))
  }

  def call[T](layer: String, name: String, kind: String = "call")(body: => T): T = {
    if (!on) return body
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty("perfbench.span")
    stack = id :: stack
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty("perfbench.span", prevProp)
      spans += Span(id, parent, kind, layer, name, name, run, t0, t1)
    }
  }

  /** One JSON object per line, written once at exit. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val children = spans.groupBy(_.parent)
    val lines = spans.sortBy(s => (s.startNs, s.id)).map { s =>
      val self = Tracer.selfNs(s, children.getOrElse(s.id, Nil))
      s"""{"id":${s.id},"parent":${s.parent},"run":"${Json.esc(s.run)}","kind":"${s.kind}",""" +
        s""""layer":"${s.layer}","name":"${Json.esc(s.name)}","label":"${Json.esc(s.label)}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":$self}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def covered(lo: Long, hi: Long, ivs: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var end = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._1 < x._2)
      .toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  /** A span's duration minus the part of it its children cover. */
  def selfNs(s: Span, children: Iterable[Span]): Long =
    s.durNs - covered(s.startNs, s.endNs, children.map(c => (c.startNs, c.endNs)))
}

object TraceListener {
  final case class Exec(id: Long, root: Long, description: String, plan: String,
                        startMs: Long, var endMs: Long)
  final case class Job(id: Int, exec: Long, span: Long, description: String,
                       startMs: Long, var endMs: Long)
  final class Stage {
    var runMs, gcMs, shW, shR, spill, failed = 0L
    var submitMs, doneMs = 0L
    val taskRunMs = mutable.ArrayBuffer.empty[Long]
  }
}

/** Collects jobs, stages, tasks and SQL executions while attached. Every
  * callback runs on the listener-bus thread; the tracer reads the buffers
  * only after draining the bus. */
final class TraceListener extends SparkListener {
  import TraceListener._
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.HashMap.empty[Int, Stage]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs += Job(e.jobId, prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop("perfbench.span").map(_.toLong).getOrElse(-1L),
      prop("callSite.short").orElse(e.stageInfos.headOption.map(_.name)).getOrElse(""),
      e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    s.doneMs = e.stageInfo.completionTime.getOrElse(s.submitMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    if (e.taskInfo != null && !e.taskInfo.successful) s.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shW += m.shuffleWriteMetrics.bytesWritten
      s.shR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskRunMs += m.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs(s.executionId) = Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
        s.description, s.physicalPlanDescription, s.time, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      execs.get(s.executionId).foreach(_.endMs = s.time)
    case _ =>
  }

  def rootPlans: Seq[String] = execs.values.filter(x => x.root == x.id).map(_.plan).toSeq

  def totals: SparkTotals = {
    val ss = stages.values
    // the slowest stage by wall time decides the reported skew
    val slowest = ss.filter(_.taskRunMs.nonEmpty).maxByOption(s => s.doneMs - s.submitMs)
    val skew = slowest.map { s =>
      val sorted = s.taskRunMs.sorted
      val med = sorted(sorted.length / 2).toDouble
      if (med > 0) sorted.last / med else 1.0
    }.getOrElse(1.0)
    SparkTotals(ss.map(_.shW).sum, ss.map(_.shR).sum, ss.map(_.spill).sum,
      ss.map(_.gcMs).sum, ss.map(_.runMs).sum, ss.map(_.failed).sum, skew)
  }

  /** Execution and job spans, parented to the call that submitted them: by
    * the `perfbench.span` property of their jobs, else by the root
    * execution, else by the innermost call open at their start. */
  def spans(calls: Vector[Span], toNs: Long => Long, newId: () => Long,
            classify: (Span, Exec, Boolean) => String, run: String): Seq[Span] = {
    val callById = calls.map(c => c.id -> c).toMap
    def enclosing(t: Long): Long =
      calls.filter(c => c.startNs <= t && t <= c.endNs).sortBy(_.durNs).headOption.map(_.id).getOrElse(0L)
    val execSpanId = mutable.HashMap.empty[Long, Long]
    val out = mutable.ArrayBuffer.empty[Span]
    // a write seen earlier inside the same call tells resume probes (reads
    // before any write) from the final snapshot/counter reads
    val wroteIn = mutable.HashSet.empty[Long]
    // jobs outside any execution (file listing, schema merging) join the
    // executions as pseudo-executions, in one start-ordered pass
    val loose = jobs.filter(_.exec < 0).map(j =>
      Exec(-1L - j.id, -1L - j.id, j.description, "", j.startMs, j.endMs) -> j.span)
    val all = execs.values.map(x => x -> -1L).toSeq ++ loose
    all.sortBy { case (x, _) => (x.startMs, x.id) }.foreach { case (x, jobSpan) =>
      val id = newId()
      execSpanId(x.id) = id
      val byJob =
        if (x.id < 0) Some(jobSpan).filter(_ > 0)
        else jobs.find(j => j.exec == x.id && j.span > 0).map(_.span)
      val parent =
        if (x.root != x.id && execSpanId.contains(x.root)) execSpanId(x.root)
        else byJob.getOrElse(enclosing(toNs(x.startMs)))
      val callSpan = callById.get(parent)
      val label = callSpan.map(c => classify(c, x, wroteIn(c.id))).getOrElse("")
      if (x.plan.contains("InsertIntoHadoopFsRelationCommand")) callSpan.foreach(c => wroteIn += c.id)
      out += Span(id, parent, if (x.id < 0) "job" else "exec", "spark", x.description, label, run,
        toNs(x.startMs), toNs(math.max(x.endMs, x.startMs)))
    }
    // a loose job lists or infers the schema of files the call's next
    // execution reads, so it takes that execution's label
    out.indices.map { i =>
      val s = out(i)
      if (s.kind != "job" || !callById.contains(s.parent)) s
      else out.drop(i + 1).find(x => x.kind == "exec" && x.parent == s.parent)
        .fold(s)(next => s.copy(label = next.label))
    }
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
