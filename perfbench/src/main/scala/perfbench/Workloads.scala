package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.streaming.Trigger

import graft.api.{Db, Esdb, Event, EventStream, Space}
import graft.engine.{EsdbWriter, Maintenance}
import graft.ops.{Caches, Corpus, Dedup, Similarity, TextOps}

/** One timed unit of work. `traced` says whether the tracer recorded
  * it; end-to-end figures come from untraced samples only, except when
  * the tracing overhead is measured.
  */
final case class Sample(kind: String, ms: Double, traced: Boolean, work: Double = 1.0)

/** State shared by a run: the session, the optional tracer, the run's
  * scratch directory and the answer-check tally.
  */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer], val work: File, val seed: Long) {
  val attempted = new AtomicLong()
  val failures = new ConcurrentLinkedQueue[String]()
  val samples = new ConcurrentLinkedQueue[Sample]()

  def op[T](kind: String, traced: Boolean)(body: => T): T =
    tracer.fold(body)(_.op(kind, traced)(body))
  def span[T](layer: String, name: String)(body: => T): T =
    tracer.fold(body)(_.span(layer, name)(body))
  def count(name: String, v: Double): Unit = tracer.foreach(_.count(name, v))

  /** Count one checked operation; a Some(reason) is a failed one. */
  def check(what: String, outcome: Option[String]): Boolean = {
    attempted.incrementAndGet()
    outcome.foreach(r => failures.add(s"$what: $r"))
    outcome.isEmpty
  }
  /** Time `body` in milliseconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
  def record(kind: String, ms: Double, traced: Boolean, work: Double = 1.0): Unit =
    samples.add(Sample(kind, ms, traced, work))
  def path(name: String): String = new File(work, name).getAbsolutePath
  def sampleSeq: Seq[Sample] = samples.asScala.toSeq
}

/** A named metric with its unit; `n` is the number of samples behind it
  * and `pct` the percentile a tail figure stands for.
  */
final case class Metric(value: Double, unit: String, n: Int = 0, pct: Option[Double] = None) {
  def json: Map[String, Any] = Map("value" -> value, "unit" -> unit) ++
    (if (n > 0) Map("n" -> n) else Map.empty) ++ pct.map(p => Map("percentile" -> p)).getOrElse(Map.empty)
}

/** One workload: set-up (repeatable), warm-up, a closed measuring
  * loop, final checks and the figures it reports.
  */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Generate the inputs and write them; repeated for the set-up time. */
  def setupOnce(rep: Int): Unit
  /** Untimed operations that let caches fill and the JIT settle. */
  def warmup(): Unit
  /** Run units of work until `deadlineNs`, and at least `minUnits`;
    * `traced(i)` says whether unit i is traced.
    */
  def loop(deadlineNs: Long, minUnits: Int, traced: Int => Boolean): Unit
  /** Whole-store and whole-run answer checks after the loop. */
  def finish(): Unit
  /** Sample kind of the loop's unit of work, and how many run at once. */
  def unitKind: String
  def concurrency: Int = 1
  /** Units the loop runs even when the deadline has passed. */
  def minUnits: Int = 1
  /** The contract figures from the given samples: op_ms, work_per_s. */
  def headline(samples: Seq[Sample], wallS: Double): Map[String, Double]
  /** Every named end-to-end figure of the workload. */
  def named(samples: Seq[Sample], wallS: Double): Map[String, Metric]
  /** Per-layer figures from the traced operations. */
  def layers(ops: Seq[OpStats]): Map[String, Double]
  /** Identity of the generated inputs. */
  def fixture: Map[String, Any]

  protected def spark: SparkSession = ctx.spark
  protected def latency(samples: Seq[Sample], prefix: String, name: String): Map[String, Metric] = {
    val xs = samples.filter(_.kind.startsWith(prefix)).map(_.ms)
    val p50 = Map(s"${name}_p50_ms" -> Metric(Stats.median(xs), "ms", xs.size))
    p50 ++ Stats.tail(xs).map { case (p, v) =>
      s"${name}_tail_ms" -> Metric(v, "ms", xs.size, Some(p)) }
  }
}

object Workload {
  val Names: Seq[String] = Seq("timeline_reads", "ingest_mutate", "curate_pipeline")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "timeline_reads" => new TimelineReads(ctx)
    case "ingest_mutate" => new IngestMutate(ctx)
    case "curate_pipeline" => new CuratePipeline(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  def bytesUnder(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  def toFrame(spark: SparkSession, events: Seq[Event], slices: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(events, slices).toDF()
  }

  /** Mean of `f` over `ops` (0 when there are none). */
  def mean(ops: Seq[OpStats])(f: OpStats => Double): Double =
    if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size
  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Catalyst, scheduler, task and driver figures per operation. */
  def sparkLayers(ops: Seq[OpStats]): Map[String, Double] = Map(
    "catalyst.analysis_ms" -> mean(ops)(_.plan.analysisMs),
    "catalyst.optimization_ms" -> mean(ops)(_.plan.optimizationMs),
    "catalyst.planning_ms" -> mean(ops)(_.plan.planningMs),
    "sched.jobs_per_op" -> mean(ops)(_.spark.jobs.toDouble),
    "sched.stages_per_op" -> mean(ops)(_.spark.stages.toDouble),
    "sched.tasks_per_op" -> mean(ops)(_.spark.tasks.toDouble),
    "sched.wait_ms" -> mean(ops)(_.spark.schedWaitMs),
    "exec.task_ms" -> mean(ops)(_.spark.taskMs),
    "exec.cpu_ms" -> mean(ops)(_.spark.cpuMs),
    "exec.gc_ms" -> mean(ops)(_.spark.gcMs),
    "exec.input_bytes" -> mean(ops)(_.spark.inputBytes),
    "exec.shuffle_write_bytes" -> mean(ops)(_.spark.shuffleWriteBytes),
    "exec.shuffle_read_bytes" -> mean(ops)(_.spark.shuffleReadBytes),
    "exec.spill_bytes" -> mean(ops)(_.spark.spillBytes),
    "driver.result_ms" -> mean(ops)(_.resultMs))

  /** The ordered sources' scan counters and the plans' Sort count, per read. */
  def readLayers(ops: Seq[OpStats]): Map[String, Double] = {
    val (opens, reads) = ops.partition(_.kind == "read.open")
    val returned = reads.map(_.counters.getOrElse("rows_returned", 0.0)).sum
    Map(
      "api.open_ms" -> mean(opens)(_.spanMs.getOrElse("open", 0.0)),
      "api.scanN_ms" -> mean(reads.filter(_.kind == "read.scanN"))(_.spanMs.getOrElse("scanN", 0.0)),
      "api.scanSince_ms" -> mean(reads.filter(_.kind == "read.scanSince"))(_.spanMs.getOrElse("scanSince", 0.0)),
      "api.scanIndexN_ms" -> mean(reads.filter(_.kind == "read.scanIndexN"))(_.spanMs.getOrElse("scanIndexN", 0.0)),
      "api.iterate_ms" -> mean(reads.filter(_.kind == "read.iterate"))(_.spanMs.getOrElse("iterate", 0.0)),
      "sources.files_opened_per_read" -> mean(reads)(_.plan.filesOpened),
      "sources.rows_merged_per_row_returned" -> ratio(reads.map(_.plan.rowsMerged).sum, returned),
      "sources.early_exit_frac" -> mean(reads)(o => if (o.plan.earlyExits > 0) 1.0 else 0.0),
      "plans.sorts_per_read" -> mean(reads)(_.plan.sorts.toDouble))
  }

  /** Self time per layer per traced operation. */
  def selfLayers(ops: Seq[OpStats]): Map[String, Double] =
    Seq("bench", "api", "engine", "streaming", "ops", "catalyst", "sched", "exec").map { l =>
      s"self.${l}_ms" -> mean(ops)(_.selfMs.getOrElse(l, 0.0))
    }.toMap
}

// ---------------------------------------------------------------------------

/** The timeline read mix, shared by timeline_reads (warm handles on a
  * compacted store) and ingest_mutate (fresh handles on a fragmented one).
  */
object ReadMix {
  /** Request kinds and their shares of the mix. */
  val Mix: Seq[(String, Double)] =
    Seq("read.scanN" -> 0.5, "read.scanSince" -> 0.2, "read.scanIndexN" -> 0.2, "read.iterate" -> 0.1)
  val ScanKinds: Set[String] = Set("read.scanN", "read.scanSince")

  /** Mix-weighted median latency: each kind's median weighted by its
    * share, so the figure does not jump between kinds the way the
    * median of a bimodal mix does.
    */
  def weightedMedian(samples: Seq[Sample], mix: Seq[(String, Double)]): Double = {
    val present = mix.filter { case (k, _) => samples.exists(_.kind == k) }
    val total = present.map(_._2).sum
    present.map { case (k, w) => w / total * Stats.median(samples.filter(_.kind == k).map(_.ms)) }.sum
  }

  sealed trait Req { def kind: String; def space: String }
  final case class ScanN(space: String, grouping: String, n: Int) extends Req { def kind = "read.scanN" }
  final case class ScanSince(space: String, grouping: String, since: Long) extends Req { def kind = "read.scanSince" }
  final case class ScanIndexN(space: String, value: String, n: Int) extends Req { def kind = "read.scanIndexN" }
  final case class Iterate(space: String, limit: Int) extends Req { def kind = "read.iterate" }
}

final class ReadMix(tl: Gen.Timeline, rnd: Random) {
  import ReadMix._
  private val perm = rnd.shuffle(tl.groupings)
  private val groupingZipf = new Zipf(perm.size, 1.0, rnd)
  private val spaceZipf = new Zipf(tl.spaces.size, 0.7, rnd)
  private val windows = Seq(2 * Gen.HourUs, 12 * Gen.HourUs, Gen.DayUs, 3 * Gen.DayUs)

  private def grouping(): (String, String) = {
    val g = perm(groupingZipf.next())
    val hs = tl.homes(g)
    (hs(rnd.nextInt(hs.size)), g)
  }

  private var pending: List[String] = Nil

  /** The next request. Kinds come in shuffled blocks of ten that hold
    * the mix exactly ([[ReadMix.Mix]]), so every run sees the same
    * proportions; `scansOnly` keeps the two per-grouping scans.
    */
  def next(scansOnly: Boolean, nowUs: Long): Req = {
    if (pending.isEmpty) pending = rnd.shuffle(Mix.flatMap { case (k, w) =>
      if (scansOnly && !ScanKinds(k)) Nil else Seq.fill(math.round(w * 10).toInt)(k) }).toList
    val kind = pending.head
    pending = pending.tail
    kind match {
      case "read.scanN" => val (s, g) = grouping(); ScanN(s, g, 20)
      case "read.scanSince" =>
        val (s, g) = grouping()
        val w = windows(math.min(windows.size - 1, (rnd.nextDouble() * rnd.nextDouble() * windows.size).toInt))
        ScanSince(s, g, nowUs - w)
      case "read.scanIndexN" =>
        ScanIndexN(tl.spaces(spaceZipf.next()), Gen.Countries(rnd.nextInt(Gen.Countries.size)), 20)
      case _ => Iterate(tl.spaces(spaceZipf.next()), 50)
    }
  }
}

/** Runs one [[ReadMix]] request through the façade and checks it. */
object Reads {
  import ReadMix._

  def run(ctx: Ctx, db: Db, spaceOf: String => Option[Space], req: Req,
          expected: ReadMix.Req => Either[Seq[String], Seq[Event]], traced: Boolean): Double = {
    val ((got, gotNames), ms) = ctx.op(req.kind, traced) {
      ctx.timed {
        val buf = mutable.ArrayBuffer.empty[Event]
        val names = mutable.ArrayBuffer.empty[String]
        req match {
          case r: ScanN =>
            ctx.span("api", "scanN")(spaceOf(r.space).foreach(_.scanN(r.grouping, r.n) { e => buf += e; true }))
          case r: ScanSince =>
            ctx.span("api", "scanSince")(spaceOf(r.space).foreach(_.scanSince(r.grouping, r.since) { e => buf += e; true }))
          case r: ScanIndexN =>
            ctx.span("api", "scanIndexN")(spaceOf(r.space).foreach(_.scanIndexN(Gen.IndexAttr, r.value, r.n) { e => buf += e; true }))
          case r: Iterate =>
            ctx.span("api", "iterate")(db.find(r.space).foreach(_.iterate { g => names += g; names.size < r.limit }))
        }
        ctx.count("rows_returned", (buf.size + names.size).toDouble)
        (buf.toSeq, names.toSeq)
      }
    }
    val outcome = expected(req) match {
      case Right(evs) => Model.compare(evs, got)
      case Left(gs) =>
        if (gotNames == gs) None
        else if (gotNames.isEmpty && gs.nonEmpty) Some(s"empty answer, expected ${gs.size} groupings")
        else Some(s"groupings ${gotNames.take(3).mkString(",")}..., expected ${gs.take(3).mkString(",")}...")
    }
    ctx.check(s"${req.kind} $req", outcome)
    ms
  }
}

// ---------------------------------------------------------------------------

/** Read-only closed loop of two clients over an immutable store written
  * once at set-up, reusing open handles.
  */
final class TimelineReads(ctx: Ctx) extends Workload(ctx) {
  val name = "timeline_reads"
  val unitKind = "read."
  override def concurrency: Int = Clients
  val Events: Int = 30000
  val Spaces = 32
  val Clients = 2

  private var tl: Gen.Timeline = _
  private var store: String = _
  private var model: TimelineModel = _
  private var db: Db = _
  private val handles = new java.util.concurrent.ConcurrentHashMap[String, Option[Space]]()

  def setupOnce(rep: Int): Unit = {
    tl = Gen.timeline(ctx.seed, Events, Spaces, 30)
    val path = ctx.path(s"store-$rep")
    EsdbWriter.write(Workload.toFrame(spark, tl.events.toSeq, 8), path, indexAttrs = Seq(Gen.IndexAttr))
    if (store != null) Workload.deleteTree(new File(store))
    store = path
  }

  private def spaceOf(s: String): Option[Space] = handles.computeIfAbsent(s, k => db.find(k))

  private def expected(req: ReadMix.Req): Either[Seq[String], Seq[Event]] = req match {
    case r: ReadMix.ScanN => Right(model.scanN(r.space, r.grouping, r.n))
    case r: ReadMix.ScanSince => Right(model.scanSince(r.space, r.grouping, r.since))
    case r: ReadMix.ScanIndexN => Right(model.scanIndexN(r.space, r.value, r.n))
    case r: ReadMix.Iterate => Left(model.groupings(r.space).take(r.limit))
  }

  def warmup(): Unit = {
    model = new TimelineModel(tl.events)
    db = Esdb.open(spark, store)
    tl.spaces.foreach(spaceOf)
    val mix = new ReadMix(tl, new Random(ctx.seed ^ 0x5eed))
    (0 until 12).foreach(_ => Reads.run(ctx, db, spaceOf, mix.next(scansOnly = false, tl.maxTsUs), expected, traced = false))
  }

  def loop(deadlineNs: Long, minUnits: Int, traced: Int => Boolean): Unit = {
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => {
        val mix = new ReadMix(tl, new Random(ctx.seed * 31 + c))
        var i = 0
        while (System.nanoTime() < deadlineNs || i < minUnits) {
          val req = mix.next(scansOnly = false, tl.maxTsUs)
          val tr = traced(i)
          val ms = try Reads.run(ctx, db, spaceOf, req, expected, tr)
          catch { case e: Exception => ctx.check(s"${req.kind} $req", Some(e.toString)); Double.NaN }
          if (!ms.isNaN) ctx.record(req.kind, ms, tr)
          i += 1
        }
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  def finish(): Unit = ()

  def headline(samples: Seq[Sample], wallS: Double): Map[String, Double] = Map(
    "op_ms" -> ReadMix.weightedMedian(samples, ReadMix.Mix),
    "work_per_s" -> samples.size / wallS)

  def named(samples: Seq[Sample], wallS: Double): Map[String, Metric] = {
    val reads = latency(samples, "read.", "read")
    reads.map { case (k, v) => k.replace("read_tail_ms", "read_p99_ms") -> v } ++
      Seq("scanN", "scanSince", "scanIndexN", "iterate").flatMap(k => latency(samples, s"read.$k", k)) ++
      Map("reads_per_s" -> Metric(samples.size / wallS, "ops/s", samples.size))
  }

  def layers(ops: Seq[OpStats]): Map[String, Double] =
    Workload.sparkLayers(ops) ++ Workload.readLayers(ops)

  def fixture: Map[String, Any] = Map("rows" -> tl.events.length, "bytes" -> Workload.bytesUnder(store),
    "hash" -> ContentHash.hex(tl.hash), "spaces" -> Spaces, "groupings" -> tl.groupings.size)
}

// ---------------------------------------------------------------------------

/** One writer in a closed loop of rounds over a mutable store and a log
  * stream: append, log append, follower drain, maintenance, each
  * mutation once, then reads on a freshly opened handle.
  */
final class IngestMutate(ctx: Ctx) extends Workload(ctx) {
  val name = "ingest_mutate"
  val unitKind = "round"
  val BaseEvents = 12000
  val Spaces = 8
  val Batch = 500
  val LateFrac = 0.2
  val ReadsPerRound = 2
  val LogSeedEvents = 500
  val MergeUpdates = 50
  val MergeInserts = 25
  /** Every round runs each mutation once, in a seeded order. */
  val Mutations: Seq[String] = Seq("delete", "retention", "update", "merge")
  /** Two rounds at least, so every mutation kind has two samples. */
  override def minUnits: Int = 2

  private var tl: Gen.Timeline = _
  private var store: String = _
  private var log: String = _
  private var checkpoint: String = _
  private var model: LiveModel = _
  private var rnd: Random = _
  private var groupingZipf: Zipf = _
  private var nextId = 0L
  private var clockUs = 0L
  private var cutoffUs = 0L
  private var round = 0
  private var baseBytes = 0L
  private val logged = mutable.HashSet.empty[Long]
  private val seen = mutable.HashMap.empty[Long, Int]
  @volatile private var drainedAtNs = 0L

  private def userBytesOf(es: Seq[Event]): Long =
    es.map(e => e.space.length + e.grouping.length + e.payload.length + 24L).sum

  def setupOnce(rep: Int): Unit = {
    tl = Gen.timeline(ctx.seed, BaseEvents, Spaces, 30)
    val (s, l) = (ctx.path(s"store-$rep"), ctx.path(s"log-$rep"))
    val df = Workload.toFrame(spark, tl.events.toSeq, 4)
    EsdbWriter.write(df, s, indexAttrs = Seq(Gen.IndexAttr))
    Maintenance.setPolicy(spark.sparkContext.hadoopConfiguration, s,
      Maintenance.Policy(maxFilesPerSpace = Some(1), keepVersions = 1))
    EventStream.create(spark, l, Workload.toFrame(spark, tl.events.take(LogSeedEvents).toSeq, 1))
    Seq(store, log).filter(_ != null).foreach(p => Workload.deleteTree(new File(p)))
    baseBytes = Workload.bytesUnder(s)
    store = s
    log = l
  }

  private def drain(): Unit = {
    val fn: (Dataset[Row], Long) => Unit = (df, _) => {
      val ids = df.select("event_id").collect().map(_.getLong(0))
      synchronized(ids.foreach(id => seen(id) = seen.getOrElse(id, 0) + 1))
      drainedAtNs = System.nanoTime()
    }
    val q = EventStream.open(spark, log).streamFrame.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fn)
      .start()
    q.awaitTermination()
    q.recentProgress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue() }
      ctx.count("streaming.planning_ms", d.getOrElse("queryPlanning", 0.0))
      ctx.count("streaming.add_batch_ms", d.getOrElse("addBatch", 0.0))
      ctx.count("streaming.commit_ms", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
      ctx.count("streaming.rows", p.numInputRows.toDouble)
    }
  }

  private def dataFiles(): Map[String, String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, store))
    EsdbWriter.storeDataFiles(root.getFileSystem(conf), root)
      .map { case (rel, _, space) => rel -> space }.toMap
  }

  /** Run one engine call as a traced op, record its latency, and in
    * traced rounds count the data files it rewrote and carried.
    */
  private def engineOp(kind: String, traced: Boolean, sampleKind: String, work: Double = 1.0)(body: => Unit): Double =
    ctx.op(s"ingest.$kind", traced) {
      val before = if (traced) dataFiles() else Map.empty[String, String]
      val (_, ms) = ctx.timed(ctx.span("engine", kind)(body))
      if (traced) {
        val after = dataFiles()
        ctx.count("files_rewritten", after.keySet.diff(before.keySet).size.toDouble)
        ctx.count("files_carried", after.keySet.intersect(before.keySet).size.toDouble)
        ctx.count("files_per_space", Workload.ratio(after.size, after.values.toSet.size))
      }
      ctx.record(sampleKind, ms, traced, work)
      ms
    }

  def warmup(): Unit = {
    model = new LiveModel(tl.events)
    logged ++= tl.events.take(LogSeedEvents).map(_.event_id)
    rnd = new Random(ctx.seed ^ 0x1a57)
    groupingZipf = new Zipf(tl.groupings.size, 0.8, rnd)
    nextId = tl.events.length.toLong
    clockUs = tl.maxTsUs
    cutoffUs = Gen.T0Us
    checkpoint = ctx.path("follower-checkpoint")
    drain()
    runRound(traced = false, record = false)
  }

  private def mutate(kind: String, traced: Boolean): Unit = {
    val live = model.liveGroupings
    kind match {
      case "delete" =>
        val g = live(rnd.nextInt(live.size))
        engineOp("delete", traced, "mutate.delete")(EsdbWriter.delete(spark, store, groupings = Some(Set(g))))
        model.deleteGrouping(g)
      case "retention" =>
        cutoffUs += 12 * Gen.HourUs
        engineOp("retention", traced, "mutate.retention")(EsdbWriter.deleteOlderThan(spark, store, cutoffUs))
        model.deleteOlderThan(cutoffUs)
      case "update" =>
        val g = live(rnd.nextInt(live.size))
        val v = round * 1.5 + 0.25
        engineOp("update", traced, "mutate.update") {
          EsdbWriter.updateWhere(spark, store, Map("value" -> lit(v)), Seq(EqualTo("grouping", g))): Unit
        }
        model.updateGrouping(g, v)
      case "merge" =>
        val ids = model.ids.toIndexedSeq
        val updates = rnd.shuffle(ids).take(MergeUpdates).map(id => model.get(id).get).map(e => e.copy(value = e.value + 0.25))
        val inserts = Gen.batch(rnd, MergeInserts, nextId, clockUs, tl, groupingZipf, 0.0).toSeq
        nextId += MergeInserts
        val src = Workload.toFrame(spark, updates ++ inserts, 1).cache()
        src.count()
        engineOp("merge", traced, "mutate.merge") {
          EsdbWriter.mergeInto(spark, store, src, Seq("event_id")): Unit
        }
        src.unpersist()
        model.merge(updates ++ inserts)
    }
  }

  private def runRound(traced: Boolean, record: Boolean): Unit = {
    val t0 = System.nanoTime()
    val batch = Gen.batch(rnd, Batch, nextId, clockUs, tl, groupingZipf, LateFrac).toSeq
    nextId += Batch
    clockUs += Gen.HourUs
    val df = Workload.toFrame(spark, batch, 2).cache()
    df.count()
    engineOp("append", traced, "append", Batch) {
      ctx.count("user_bytes", userBytesOf(batch).toDouble)
      EsdbWriter.append(df, store, indexAttrs = Seq(Gen.IndexAttr))
    }
    model.append(batch)
    engineOp("append_log", traced, "append_log", Batch) {
      EventStream.open(spark, log).write(df)
    }
    val appendedAtNs = System.nanoTime()
    logged ++= batch.map(_.event_id)
    df.unpersist()
    val (_, drainMs) = ctx.op("ingest.drain", traced)(ctx.timed(ctx.span("streaming", "drain")(drain())))
    val missing = batch.count(e => !seen.contains(e.event_id))
    if (ctx.check(s"follower round $round", if (missing == 0) None else Some(s"$missing of $Batch appended events not delivered")))
      ctx.record("tail_lag", (drainedAtNs - appendedAtNs) / 1e6, traced)
    ctx.record("drain", drainMs, traced)

    // the policy (one file per space) compacts the spaces the append fragmented
    engineOp("maintain", traced, "maintain")(Maintenance.maintain(spark, store): Unit)
    rnd.shuffle(Mutations).foreach(mutate(_, traced))

    // reads on a freshly opened handle against the version the mutations published
    val (db, openMs) = ctx.op("read.open", traced)(ctx.timed(ctx.span("api", "open")(Esdb.open(spark, store))))
    ctx.record("open", openMs, traced)
    val handles = mutable.HashMap.empty[String, Option[Space]]
    val mix = new ReadMix(tl, rnd)
    (0 until ReadsPerRound).foreach { _ =>
      val req = mix.next(scansOnly = true, clockUs)
      val ms = Reads.run(ctx, db, s => handles.getOrElseUpdate(s, db.find(s)), req, {
        case r: ReadMix.ScanN => Right(model.timeline(r.space, r.grouping).take(r.n))
        case r: ReadMix.ScanSince => Right(model.timeline(r.space, r.grouping).takeWhile(_.ts_us >= r.since))
        case other => throw new IllegalStateException(s"unexpected request $other")
      }, traced)
      ctx.record(req.kind, ms, traced)
    }
    if (record) ctx.record("round", (System.nanoTime() - t0) / 1e6, traced, Batch)
    round += 1
  }

  def loop(deadlineNs: Long, minUnits: Int, traced: Int => Boolean): Unit = {
    var i = 0
    while (System.nanoTime() < deadlineNs || i < minUnits) {
      val tr = traced(i)
      try runRound(tr, record = true)
      catch { case e: Exception => ctx.check(s"round $round", Some(e.toString)) }
      i += 1
    }
  }

  def finish(): Unit = {
    val rows = EsdbWriter.read(spark, store)
      .select("space", "grouping", "ts_us", "event_id", "value", "payload").collect()
    val hash = rows.foldLeft(0L)((a, r) => a + ContentHash.event(
      Event(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getString(5))))
    ctx.check("final live-row count", if (rows.length == model.size) None
      else Some(s"${rows.length} rows, model holds ${model.size}"))
    ctx.check("final content hash", if (hash == model.hash) None
      else Some(s"hash ${ContentHash.hex(hash)}, model ${ContentHash.hex(model.hash)}"))
    val dup = seen.count(_._2 > 1)
    val lost = logged.count(id => !seen.contains(id))
    ctx.check("follower exactly-once", if (dup == 0 && lost == 0 && seen.size == logged.size) None
      else Some(s"$dup delivered twice, $lost never delivered, ${seen.size} seen of ${logged.size}"))
    // space amplification: the store's bytes against the live rows written fresh
    val fresh = ctx.path("fresh")
    EsdbWriter.write(Workload.toFrame(spark, model.events.toSeq, 4), fresh, indexAttrs = Seq(Gen.IndexAttr))
    spaceAmp = Workload.ratio(Workload.bytesUnder(store).toDouble, Workload.bytesUnder(fresh).toDouble)
  }
  private var spaceAmp = 0.0

  private def rounds(samples: Seq[Sample]) = samples.filter(_.kind == "round")
  private def mutations(samples: Seq[Sample]) = samples.filter(_.kind.startsWith("mutate."))

  def headline(samples: Seq[Sample], wallS: Double): Map[String, Double] = Map(
    "op_ms" -> ReadMix.weightedMedian(samples, Mutations.map(k => s"mutate.$k" -> 0.25)),
    "work_per_s" -> rounds(samples).map(_.work).sum / wallS)

  def named(samples: Seq[Sample], wallS: Double): Map[String, Metric] = {
    val muts = mutations(samples).map(_.ms)
    val lags = samples.filter(_.kind == "tail_lag").map(_.ms)
    latency(samples, "read.", "read") - "read_tail_ms" ++
      Map(
        "ingest_rows_per_s" -> Metric(rounds(samples).map(_.work).sum / wallS, "rows/s", rounds(samples).size),
        "mutate_p50_ms" -> Metric(Stats.median(muts), "ms", muts.size),
        "tail_lag_p50_ms" -> Metric(Stats.median(lags), "ms", lags.size),
        "round_p50_ms" -> Metric(Stats.median(rounds(samples).map(_.ms)), "ms", rounds(samples).size),
        "space_amp" -> Metric(spaceAmp, "ratio")) ++
      Stats.tail(muts).map { case (p, v) => "mutate_p90_ms" -> Metric(v, "ms", muts.size, Some(p)) } ++
      Seq("delete", "retention", "update", "merge").flatMap(k => latency(samples, s"mutate.$k", k)) ++
      Seq("append", "append_log", "drain", "maintain", "open").flatMap(k => latency(samples.filter(_.kind == k), k, k))
  }

  def layers(ops: Seq[OpStats]): Map[String, Double] = {
    import Workload.{mean, ratio}
    def kind(k: String) = ops.filter(_.kind == s"ingest.$k")
    def engineMs(k: String) = mean(kind(k))(_.spanMs.getOrElse(k, 0.0))
    val muts = ops.filter(o => Set("ingest.delete", "ingest.retention", "ingest.update", "ingest.merge")(o.kind))
    val rewriting = muts ++ kind("maintain")
    val ingestOps = ops.filter(_.kind.startsWith("ingest."))
    val drains = kind("drain")
    Workload.sparkLayers(muts) ++ Workload.readLayers(ops.filter(_.kind.startsWith("read."))) ++ Map(
      "engine.append_ms" -> engineMs("append"),
      "engine.append_log_ms" -> engineMs("append_log"),
      "engine.delete_ms" -> engineMs("delete"),
      "engine.retention_ms" -> engineMs("retention"),
      "engine.update_ms" -> engineMs("update"),
      "engine.merge_ms" -> engineMs("merge"),
      "engine.maintain_ms" -> engineMs("maintain"),
      "engine.files_rewritten_per_op" -> mean(rewriting)(_.counters.getOrElse("files_rewritten", 0.0)),
      "engine.files_carried_per_op" -> mean(rewriting)(_.counters.getOrElse("files_carried", 0.0)),
      "engine.files_per_space" -> mean(rewriting)(_.counters.getOrElse("files_per_space", 0.0)),
      "io.write_amp" -> ratio(ingestOps.map(_.counters.getOrElse("io.write_bytes", 0.0)).sum,
        ingestOps.map(_.counters.getOrElse("user_bytes", 0.0)).sum),
      "io.bytes_read_per_op" -> mean(rewriting)(_.counters.getOrElse("io.read_bytes", 0.0)),
      "streaming.drain_ms" -> mean(drains)(_.spanMs.getOrElse("drain", 0.0)),
      "streaming.planning_ms" -> mean(drains)(_.counters.getOrElse("streaming.planning_ms", 0.0)),
      "streaming.add_batch_ms" -> mean(drains)(_.counters.getOrElse("streaming.add_batch_ms", 0.0)),
      "streaming.commit_ms" -> mean(drains)(_.counters.getOrElse("streaming.commit_ms", 0.0)),
      "streaming.rows_per_drain" -> mean(drains)(_.counters.getOrElse("streaming.rows", 0.0)))
  }

  def fixture: Map[String, Any] = Map("rows" -> tl.events.length, "hash" -> ContentHash.hex(tl.hash),
    "bytes" -> baseBytes, "spaces" -> Spaces, "groupings" -> tl.groupings.size, "batch" -> Batch)
}

// ---------------------------------------------------------------------------

/** A batch pass of the training-data operators over a generated corpus
  * with planted duplicates, near duplicates and PII.
  */
final class CuratePipeline(ctx: Ctx) extends Workload(ctx) {
  val name = "curate_pipeline"
  val unitKind = "pass"
  val Docs = 4000
  val Embs = 2000
  val Dims = 64
  val Queries = 100
  val K = 10
  val Threshold = 0.9
  /** Embedding LSH tables and bits per table, for the operator and the candidate count alike. */
  val Tables = 8
  val Bits = 8
  /** Share of the planted near-duplicate pairs each LSH operator must find. */
  val MinRecall = 0.9

  private var corpus: Gen.Corpus = _
  private var dir: String = _
  private var firstCurate: Option[Seq[Row]] = None
  private var firstNear: Option[(Set[(Long, Long)], Set[(Long, Long)])] = None
  private val recall = mutable.ArrayBuffer.empty[(Int, Int)] // (found, planted) per pass

  def setupOnce(rep: Int): Unit = {
    val sp = spark
    import sp.implicits._
    corpus = Gen.corpus(ctx.seed, Docs, Embs, Dims, Queries)
    val d = ctx.path(s"corpus-$rep")
    corpus.docs.toSeq.toDF().repartition(4).write.parquet(s"$d/documents")
    corpus.embs.toSeq.toDF().repartition(4).write.parquet(s"$d/embeddings")
    corpus.queries.toSeq.toDF().select("vec_id", "embedding").write.parquet(s"$d/queries")
    if (dir != null) Workload.deleteTree(new File(dir))
    dir = d
  }

  def warmup(): Unit = pass(0, traced = false, record = false)

  def loop(deadlineNs: Long, minUnits: Int, traced: Int => Boolean): Unit = {
    var i = 0
    while (System.nanoTime() < deadlineNs || i < minUnits) {
      pass(i + 1, traced(i), record = true)
      i += 1
    }
  }

  private def step[T](kind: String, traced: Boolean, record: Boolean)(body: => T): (T, Double) = {
    val (r, ms) = ctx.op(s"curate.$kind", traced)(ctx.timed(ctx.span("ops", kind)(body)))
    if (record) ctx.record(s"op.$kind", ms, traced)
    (r, ms)
  }

  private def pass(n: Int, traced: Boolean, record: Boolean): Unit = {
    val docs = spark.read.parquet(s"$dir/documents")
    val embs = spark.read.parquet(s"$dir/embeddings")
    val queries = spark.read.parquet(s"$dir/queries")
    val c = corpus
    try {
      val (exact, t1) = step("exact", traced, record)(Dedup.exact(docs).collect())
      val (minhash, t2) = step("minhash", traced, record) {
        try Dedup.minhashNearDups(docs).collect() finally Caches.clear()
      }
      val (embPairs, t3) = step("embed_lsh", traced, record) {
        Dedup.embeddingNearDups(embs, Threshold, Tables, Bits, Dims).collect()
      }
      val (ann, t4) = step("ann_topk", traced, record)(Similarity.annTopK(embs, queries, K).collect())
      val ((norm, pii), t5) = step("text", traced, record) {
        (TextOps.normalizeScrub(docs).collect(), TextOps.redactPii(docs).collect())
      }
      val (curated, t6) = step("curate", traced, record)(Corpus.curatePipeline(docs).collect())
      if (record) ctx.record("pass", t1 + t2 + t3 + t4 + t5 + t6, traced, Docs)
      if (traced) {
        // the exact twin of embed_lsh and the LSH candidate volume, traced only
        step("embed_exact", traced, record = false)(Dedup.embeddingNearDupsExact(embs, Threshold).collect())
        ctx.op("curate.lsh_candidates", traced) {
          // distinct pairs that share a bucket in at least one table: the
          // pairs the operator scores
          val b = Similarity.withBuckets(embs.select("vec_id", "embedding"), Tables, Bits, Dims)
            .select("vec_id", "t", "bucket")
          val cand = b.as("l").join(b.as("r"), Seq("t", "bucket"))
            .where(col("l.vec_id") < col("r.vec_id"))
            .select(col("l.vec_id"), col("r.vec_id")).distinct().count()
          ctx.count("lsh_candidates", cand.toDouble)
          ctx.count("lsh_hits", embPairs.length.toDouble)
        }
      }
      checkPass(n, c, exact, minhash, embPairs, ann, norm, pii, curated)
    } catch {
      case e: Exception => ctx.check(s"curate pass $n", Some(e.toString))
    }
  }

  private def checkPass(n: Int, c: Gen.Corpus, exact: Array[Row], minhash: Array[Row], embPairs: Array[Row],
                        ann: Array[Row], norm: Array[Row], pii: Array[Row], curated: Array[Row]): Unit = {
    // exact dedup: the multi-copy groups are exactly the planted ones
    val groups = exact.filter(_.getLong(1) > 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = c.exactGroups.map(g => g.min -> g.size.toLong).toMap
    val survivors = c.docs.length - c.exactGroups.map(_.size - 1).sum
    ctx.check(s"pass $n Dedup.exact", if (groups == planted && exact.length == survivors) None
      else Some(s"${groups.size} groups / ${exact.length} rows, planted ${planted.size} / $survivors"))
    // near duplicates: nothing unplanted, at least MinRecall of the
    // planted pairs, and the same answer every pass
    val foundText = minhash.map(r => (r.getLong(0), r.getLong(1))).toSet
    val foundEmb = embPairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedEmb = c.embPairs.toSet
    def same(first: Option[Set[(Long, Long)]], found: Set[(Long, Long)]) =
      first.filter(_ != found).map(f => s"answer changed: ${found.size} pairs, first pass ${f.size}")
    ctx.check(s"pass $n Dedup.minhashNearDups",
      Model.nearDups(foundText, c.similarTextPairs, MinRecall).orElse(same(firstNear.map(_._1), foundText)))
    ctx.check(s"pass $n Dedup.embeddingNearDups",
      Model.nearDups(foundEmb, plantedEmb, MinRecall).orElse(same(firstNear.map(_._2), foundEmb)))
    if (firstNear.isEmpty) firstNear = Some((foundText, foundEmb))
    recall += ((foundText.intersect(c.similarTextPairs).size + foundEmb.intersect(plantedEmb).size,
      c.similarTextPairs.size + plantedEmb.size))
    // ANN top-k: exact cosines, descending, at most k, never the query
    // itself, and a planted partner first
    val vec = c.embs.map(e => e.vec_id -> e.embedding).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val byQuery = ann.groupBy(_.getLong(0))
    val annBad = byQuery.toSeq.flatMap { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      val scores = sorted.map(_.getLong(3))
      if (rs.length > K) Some(s"query $q: ${rs.length} neighbours")
      else if (sorted.exists(_.getLong(2) == q)) Some(s"query $q returned itself")
      else if (scores.zip(scores.drop(1)).exists { case (a, b) => a < b }) Some(s"query $q: scores not descending")
      else sorted.find(r => math.abs(r.getLong(3) - cos(vec(q), vec(r.getLong(2))) * 1e6) > 2000)
        .map(r => s"query $q neighbour ${r.getLong(2)}: cos_x1e6 ${r.getLong(3)}")
    }
    val first = byQuery.map { case (q, rs) => q -> rs.minBy(_.getLong(1)).getLong(2) }
    val queried = c.queries.map(_.vec_id).toSet
    val partners = c.embPairs.filter(p => queried(p._1)).toMap
    ctx.check(s"pass $n Similarity.annTopK",
      if (annBad.nonEmpty) annBad.headOption
      else if (byQuery.size != c.queries.length) Some(s"${byQuery.size} queries answered of ${c.queries.length}")
      else Model.topNeighbours(first, partners))
    // text: normalization and scrubbing as specified, PII counts as planted
    val text = c.docs.map(d => d.doc_id -> d.text).toMap
    val normBad = norm.find { r =>
      val t = text(r.getLong(0))
      r.getString(1) != t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim ||
        r.getString(2) != t.replaceAll("[A-Za-z0-9.]+@[A-Za-z0-9.]+", "<email>").replaceAll("[0-9]+", "<num>")
    }
    ctx.check(s"pass $n TextOps.normalizeScrub", if (normBad.isEmpty && norm.length == c.docs.length) None
      else Some(normBad.map(r => s"doc ${r.getLong(0)}").getOrElse(s"${norm.length} rows")))
    val piiBad = pii.find { r =>
      val id = r.getLong(0)
      val (e, p, i) = c.pii.getOrElse(id, (0, 0, 0))
      r.getLong(1) != e || r.getLong(2) != p || r.getLong(3) != i ||
        c.piiStrings.getOrElse(id, Nil).exists(r.getString(4).contains)
    }
    ctx.check(s"pass $n TextOps.redactPii", if (piiBad.isEmpty && pii.length == c.docs.length) None
      else Some(piiBad.map(r => s"doc ${r.getLong(0)}: ${r.getLong(1)}/${r.getLong(2)}/${r.getLong(3)}").getOrElse(s"${pii.length} rows")))
    // curation: the same answer every pass, within the corpus' bounds
    val cur = curated.toSeq
    val splitsOk = cur.nonEmpty && cur.forall(r => Set("train", "val", "test")(r.getString(0))) &&
      cur.map(_.getLong(1)).sum <= survivors
    ctx.check(s"pass $n Corpus.curatePipeline", if (!splitsOk) Some(s"answer ${cur.mkString(",")}")
      else if (firstCurate.exists(_ != cur)) Some(s"answer changed: ${cur.mkString(",")} vs ${firstCurate.get.mkString(",")}")
      else { firstCurate = Some(cur); None })
  }

  def finish(): Unit = ()

  private def passes(samples: Seq[Sample]) = samples.filter(_.kind == "pass")

  /** op_ms is the median pass; work_per_s counts the documents of every
    * pass over the loop's wall time, answer checks included.
    */
  def headline(samples: Seq[Sample], wallS: Double): Map[String, Double] = Map(
    "op_ms" -> Stats.median(passes(samples).map(_.ms)),
    "work_per_s" -> passes(samples).map(_.work).sum / wallS)

  def named(samples: Seq[Sample], wallS: Double): Map[String, Metric] = {
    val ps = passes(samples).map(_.ms)
    val (found, planted) = (recall.map(_._1).sum, recall.map(_._2).sum)
    Map(
      "pass_p50_ms" -> Metric(Stats.median(ps), "ms", ps.size),
      "curate_docs_per_s" -> Metric(passes(samples).map(_.work).sum / wallS, "docs/s", ps.size),
      "near_dup_recall" -> Metric(Workload.ratio(found, planted), "ratio", recall.size)) ++
      Seq("exact", "minhash", "embed_lsh", "ann_topk", "text", "curate").flatMap(k => latency(samples, s"op.$k", k))
  }

  def layers(ops: Seq[OpStats]): Map[String, Double] = {
    import Workload.{mean, ratio}
    val main = ops.filter(o => o.kind.startsWith("curate.") && o.kind != "curate.lsh_candidates" && o.kind != "curate.embed_exact")
    def ms(k: String) = mean(ops.filter(_.kind == s"curate.$k"))(_.spanMs.getOrElse(k, 0.0))
    val cand = ops.filter(_.kind == "curate.lsh_candidates")
    val candidates = cand.map(_.counters.getOrElse("lsh_candidates", 0.0)).sum
    Workload.sparkLayers(main) ++ Map(
      "ops.exact_ms" -> ms("exact"), "ops.minhash_ms" -> ms("minhash"), "ops.embed_lsh_ms" -> ms("embed_lsh"),
      "ops.ann_topk_ms" -> ms("ann_topk"), "ops.text_ms" -> ms("text"), "ops.curate_ms" -> ms("curate"),
      "ops.embed_exact_ms" -> ms("embed_exact"),
      "ops.lsh_candidates_per_n2" -> ratio(candidates / math.max(1, cand.size), Embs.toDouble * Embs),
      "ops.lsh_hit_frac" -> ratio(cand.map(_.counters.getOrElse("lsh_hits", 0.0)).sum, candidates))
  }

  def fixture: Map[String, Any] = Map("docs" -> Docs, "embeddings" -> Embs, "dims" -> Dims,
    "bytes" -> Workload.bytesUnder(dir), "hash" -> ContentHash.hex(corpus.hash),
    "planted_exact_groups" -> corpus.exactGroups.size, "planted_near_pairs" -> corpus.nearPairs.size,
    "planted_embedding_pairs" -> corpus.embPairs.size, "pii_docs" -> corpus.pii.size)
}
