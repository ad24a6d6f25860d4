package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One recorded interval. Times are `System.nanoTime` based; `op` is
  * the benchmark operation the span belongs to and `parent` the span
  * that caused it (0 for an operation's root span).
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Everything measured for one traced operation once the run ends. */
final case class OpStats(id: Long, kind: String, wallMs: Double, resultMs: Double,
                         spark: SparkAgg, plan: PlanAgg,
                         counters: Map[String, Double],
                         spanMs: Map[String, Double],
                         selfMs: Map[String, Double])

/** Spark scheduler and task counters summed over one operation's jobs. */
final case class SparkAgg(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                          schedWaitMs: Double = 0, taskMs: Double = 0, cpuMs: Double = 0,
                          gcMs: Double = 0, inputBytes: Double = 0,
                          shuffleWriteBytes: Double = 0, shuffleReadBytes: Double = 0,
                          spillBytes: Double = 0, lastJobEndMs: Long = 0)

/** Catalyst phases and executed-plan metrics summed over one operation's queries. */
final case class PlanAgg(analysisMs: Double = 0, optimizationMs: Double = 0,
                         planningMs: Double = 0, filesOpened: Double = 0, rowsMerged: Double = 0,
                         earlyExits: Double = 0, sorts: Int = 0)

/** In-memory tracing for one benchmark run.
  *
  * Benchmark code wraps each operation in [[op]] and each call into a
  * layer of the engine in [[span]]. Spark's own layers are read from
  * outside: a `SparkListener` collects job, stage and task events, and
  * the `QueryExecution` of every SQL execution supplies the Catalyst
  * phase timings and the executed plan's metrics. Jobs and executions
  * are linked to the operation through a Spark job tag that the calling
  * thread holds for the operation's duration.
  *
  * Untraced operations record nothing; their jobs carry no tag and the
  * listener ignores them.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val kinds = new ConcurrentHashMap[Long, String]()
  private val counters = new ConcurrentHashMap[Long, ConcurrentHashMap[String, Double]]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  // epoch-ms clock of Spark events mapped onto nanoTime
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private[perfbench] val listener = new SparkSide
  sc.addSparkListener(listener)

  /** Id of the traced operation running on this thread, or 0. */
  def currentOp: Long = stack.get().headOption.map(_.op).getOrElse(0L)

  /** Run `body` as operation `kind`; recorded only when `traced`. */
  def op[T](kind: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      val id = ids.incrementAndGet()
      kinds.put(id, kind)
      val tag = TagPrefix + id
      sc.addJobTag(tag)
      val (read0, written0) = IoStats.snapshot()
      val root = Span(id, 0L, id, "bench", kind, System.nanoTime(), 0L)
      stack.set(root :: stack.get())
      try body
      finally {
        val (read1, written1) = IoStats.snapshot()
        count("io.read_bytes", (read1 - read0).toDouble)
        count("io.write_bytes", (written1 - written0).toDouble)
        stack.set(stack.get().tail)
        sc.removeJobTag(tag)
        spans.add(root.copy(endNs = System.nanoTime()))
      }
    }

  /** Run `body` as a call into `layer`, under the current operation. */
  def span[T](layer: String, name: String)(body: => T): T =
    stack.get() match {
      case Nil => body
      case parent :: _ =>
        val s = Span(ids.incrementAndGet(), parent.id, parent.op, layer, name, System.nanoTime(), 0L)
        stack.set(s :: stack.get())
        try body
        finally {
          stack.set(stack.get().tail)
          spans.add(s.copy(endNs = System.nanoTime()))
        }
    }

  /** Add `v` to counter `name` of the current operation (if traced). */
  def count(name: String, v: Double): Unit = {
    val op = currentOp
    if (op != 0L) counters.computeIfAbsent(op, _ => new ConcurrentHashMap[String, Double]())
      .merge(name, v, (a: Double, b: Double) => a + b)
  }

  private def toNs(epochMs: Long): Long = epochMs * 1000000L - offsetNs

  /** Stop listening, wait for queued Spark events and summarise every
    * traced operation. Also returns all spans (benchmark and Spark side)
    * for the trace file.
    */
  def finish(): (Seq[OpStats], Seq[Span]) = {
    org.apache.spark.sql.perfbench.SparkInternals.waitForListeners(sc)
    sc.removeSparkListener(listener)
    val bench = spans.asScala.toSeq
    val byOp = bench.groupBy(_.op)
    val all = mutable.ArrayBuffer.empty[Span] ++= bench
    val stats = byOp.toSeq.sortBy(_._1).map { case (op, ss) =>
      val root = ss.find(_.parent == 0L).get
      // Spark-side spans hang under the innermost benchmark span that
      // was open when they started
      def parentAt(t: Long): Span = ss.filter(s => s.startNs <= t && t < s.endNs)
        .sortBy(s => -s.startNs).headOption.getOrElse(root)
      val sparkSpans = mutable.ArrayBuffer.empty[Span]
      def addSpark(layer: String, name: String, a: Long, b: Long): Unit =
        if (b > a) sparkSpans += Span(ids.incrementAndGet(), parentAt(a).id, op, layer, name, a, b)
      val jobs = listener.jobsOf(op)
      jobs.foreach { j =>
        val sub = toNs(j.submitMs)
        val first = if (j.firstTaskMs > 0) toNs(j.firstTaskMs) else toNs(j.endMs)
        addSpark("sched", s"job${j.jobId}.wait", sub, first)
        addSpark("exec", s"job${j.jobId}.run", first, toNs(j.endMs))
      }
      val qes = listener.queriesOf(op)
      qes.foreach { qe =>
        qe.tracker.phases.foreach { case (phase, p) =>
          addSpark("catalyst", phase, toNs(p.startTimeMs), toNs(p.endTimeMs))
        }
      }
      all ++= sparkSpans
      val spansOfOp = ss ++ sparkSpans
      val children = spansOfOp.groupBy(_.parent)
      val selfMs = spansOfOp.groupBy(_.layer).map { case (layer, ls) =>
        layer -> ls.map(s => Stats.selfTime(s.startNs, s.endNs,
          children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))) / 1e6).sum
      }
      val agg = listener.aggOf(op)
      val plan = PlanMetrics.of(qes)
      val cs = Option(counters.get(op)).map(_.asScala.toMap).getOrElse(Map.empty[String, Double])
      val spanMs = ss.filter(_.parent != 0L).groupBy(_.name).map { case (n, xs) => n -> xs.map(_.ms).sum }
      val resultMs = if (agg.lastJobEndMs > 0) math.max(0L, root.endNs - toNs(agg.lastJobEndMs)) / 1e6 else 0.0
      OpStats(op, kinds.get(op), root.ms, resultMs, agg, plan, cs, spanMs, selfMs)
    }
    (stats, all.toSeq)
  }

  /** Spans as JSON lines, for the trace file written at the end of a run. */
  def spanLines(all: Seq[Span]): Iterator[String] = all.sortBy(_.startNs).iterator.map { s =>
    Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> kinds.get(s.op),
      "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
  }
}

/** Bytes read and written through Hadoop file systems in this JVM
  * (driver and, in local mode, executors alike).
  */
object IoStats {
  def snapshot(): (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

object Tracer {
  val TagPrefix = "perfbench-op-"

  def opOfTags(tags: Iterable[String]): Long =
    tags.find(_.startsWith(TagPrefix)).map(_.drop(TagPrefix.length).toLong).getOrElse(0L)
}

/** The listener half of [[Tracer]]: per-operation jobs, stage and task
  * counters, and the `QueryExecution`s of tagged SQL executions.
  */
final class SparkSide extends SparkListener {
  final class JobRec(val op: Long, val jobId: Int, val submitMs: Long) {
    @volatile var firstTaskMs = 0L
    @volatile var endMs = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val aggs = new ConcurrentHashMap[Long, SparkAgg]()
  private val execOp = new ConcurrentHashMap[Long, Long]()
  private val queries = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[QueryExecution]]()

  def jobsOf(op: Long): Seq[JobRec] = jobs.values().asScala.filter(_.op == op).toSeq.sortBy(_.jobId)
  def queriesOf(op: Long): Seq[QueryExecution] =
    Option(queries.get(op)).map(_.asScala.toSeq).getOrElse(Nil)
  def aggOf(op: Long): SparkAgg = {
    val a = Option(aggs.get(op)).getOrElse(SparkAgg())
    val js = jobsOf(op)
    a.copy(jobs = js.size,
      schedWaitMs = js.map(j => math.max(0L, (if (j.firstTaskMs > 0) j.firstTaskMs else j.endMs) - j.submitMs)).sum.toDouble,
      lastJobEndMs = if (js.isEmpty) 0L else js.map(_.endMs).max)
  }

  private def update(op: Long)(f: SparkAgg => SparkAgg): Unit =
    aggs.compute(op, (_, a) => f(Option(a).getOrElse(SparkAgg())))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val op = Tracer.opOfTags(tags)
    if (op != 0L) {
      val r = new JobRec(op, e.jobId, e.time)
      jobs.put(e.jobId, r)
      e.stageIds.foreach(s => stageJob.put(s, r))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => update(j.op)(a => a.copy(stages = a.stages + 1)))

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      if (j.firstTaskMs == 0L) j.firstTaskMs = e.taskInfo.launchTime
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      if (m != null) update(j.op)(a => a.copy(
        tasks = a.tasks + 1,
        taskMs = a.taskMs + m.executorRunTime,
        cpuMs = a.cpuMs + m.executorCpuTime / 1e6,
        gcMs = a.gcMs + m.jvmGCTime,
        inputBytes = a.inputBytes + m.inputMetrics.bytesRead,
        shuffleWriteBytes = a.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = a.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        spillBytes = a.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled))
      else update(j.op)(a => a.copy(tasks = a.tasks + 1))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val op = Tracer.opOfTags(s.jobTags)
      if (op != 0L) execOp.put(s.executionId, op)
    case s: SparkListenerSQLExecutionEnd =>
      Option(execOp.get(s.executionId)).foreach { op =>
        org.apache.spark.sql.perfbench.SparkInternals.queryExecution(s).foreach { qe =>
          queries.computeIfAbsent(op, _ => new ConcurrentLinkedQueue[QueryExecution]()).add(qe)
        }
      }
    case _ =>
  }
}

/** Executed-plan figures: the ordered sources' scan metrics and the
  * number of Sort nodes, read after the queries have run.
  */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  val FilesOpened = "esdbFilesOpened"
  val RowsMerged = "esdbRowsMerged"
  val EarlyExits = "esdbEarlyExits"

  def of(qes: Seq[QueryExecution]): PlanAgg = qes.foldLeft(PlanAgg()) { (a, qe) =>
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val plan: SparkPlan = qe.executedPlan
    def metric(name: String): Double =
      collectWithSubqueries(plan) { case p if p.metrics.contains(name) => p.metrics(name).value }
        .sum.toDouble
    a.copy(
      analysisMs = a.analysisMs + phase("analysis"),
      optimizationMs = a.optimizationMs + phase("optimization"),
      planningMs = a.planningMs + phase("planning"),
      filesOpened = a.filesOpened + metric(FilesOpened),
      rowsMerged = a.rowsMerged + metric(RowsMerged),
      earlyExits = a.earlyExits + metric(EarlyExits),
      sorts = a.sorts + collectWithSubqueries(plan) { case s: SortExec => s }.size)
  }
}
