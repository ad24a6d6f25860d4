package perfbench

import java.io.{File, PrintWriter}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one measuring window.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <dir> [--source <hash>] [--commit <id>]
  *
  * Prints a report line (every named metric with its unit, the fixture
  * identity and the provenance) and, last, the result line: the
  * end-to-end metrics untraced, the per-layer metrics traced.
  */
object Main {

  /** End-to-end metrics: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms" -> "ms", "work_per_s" -> "1/s")

  /** Per-layer metrics: (name, unit). */
  val PerLayer: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "sched.jobs_per_op" -> "count", "sched.stages_per_op" -> "count", "sched.tasks_per_op" -> "count",
    "sched.wait_ms" -> "ms",
    "exec.task_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.input_bytes" -> "B",
    "exec.shuffle_write_bytes" -> "B", "exec.shuffle_read_bytes" -> "B", "exec.spill_bytes" -> "B",
    "driver.result_ms" -> "ms",
    "api.open_ms" -> "ms", "api.scanN_ms" -> "ms", "api.scanSince_ms" -> "ms", "api.scanIndexN_ms" -> "ms",
    "api.iterate_ms" -> "ms",
    "sources.files_opened_per_read" -> "count", "sources.rows_merged_per_row_returned" -> "ratio",
    "sources.early_exit_frac" -> "ratio", "plans.sorts_per_read" -> "count",
    "engine.append_ms" -> "ms", "engine.append_log_ms" -> "ms", "engine.delete_ms" -> "ms",
    "engine.retention_ms" -> "ms", "engine.update_ms" -> "ms", "engine.merge_ms" -> "ms",
    "engine.maintain_ms" -> "ms", "engine.files_rewritten_per_op" -> "count",
    "engine.files_carried_per_op" -> "count", "engine.files_per_space" -> "count",
    "io.write_amp" -> "ratio", "io.bytes_read_per_op" -> "B",
    "streaming.drain_ms" -> "ms", "streaming.planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.commit_ms" -> "ms", "streaming.rows_per_drain" -> "count",
    "ops.exact_ms" -> "ms", "ops.minhash_ms" -> "ms", "ops.embed_lsh_ms" -> "ms", "ops.ann_topk_ms" -> "ms",
    "ops.text_ms" -> "ms", "ops.curate_ms" -> "ms", "ops.embed_exact_ms" -> "ms",
    "ops.lsh_candidates_per_n2" -> "ratio", "ops.lsh_hit_frac" -> "ratio",
    "self.bench_ms" -> "ms", "self.api_ms" -> "ms", "self.engine_ms" -> "ms", "self.streaming_ms" -> "ms",
    "self.ops_ms" -> "ms", "self.catalyst_ms" -> "ms", "self.sched_ms" -> "ms", "self.exec_ms" -> "ms",
    "trace.overhead_op_ms_pct" -> "%", "trace.overhead_work_per_s_pct" -> "%", "trace.traced_ops" -> "count")

  /** Set-up repetitions; the median is reported. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, out: File, source: String, commit: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("out")), kv.getOrElse("source", "unknown"),
      kv.getOrElse("commit", "none"))
  }

  def session(cpus: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.GraftSession.tune(spark)
  }

  /** Peak resident set of this JVM in MB (VmHWM), or the heap in use. */
  def peakRssMb(): Double = {
    val status = new File("/proc/self/status")
    val hwm = if (!status.exists()) None else {
      val src = scala.io.Source.fromFile(status)
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      finally src.close()
    }
    hwm.getOrElse((sys.runtime.totalMemory - sys.runtime.freeMemory) / 1048576.0)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workload.Names.contains(o.workload), s"unknown workload ${o.workload}")
    o.work.mkdirs()
    o.out.mkdirs()
    System.setProperty("java.io.tmpdir", o.work.getAbsolutePath)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val code = try { run(o, cpus); 0 }
    catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${o.workload} failed: $e")
        e.printStackTrace()
        1
    } finally Workload.deleteTree(o.work)
    System.exit(code)
  }

  private def run(o: Opts, cpus: Int): Unit = {
    val t0 = System.nanoTime()
    val spark = session(cpus, o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val tracer = if (o.trace) Some(new Tracer(spark)) else None
      val ctx = new Ctx(spark, tracer, o.work, o.seed)
      val w = Workload(o.workload, ctx)
      val setupS = (0 until SetupReps).map { rep =>
        val t = System.nanoTime(); w.setupOnce(rep); (System.nanoTime() - t) / 1e9
      }
      val (_, warmMs) = ctx.timed(w.warmup())
      ctx.samples.clear()
      val setup = sessionS + Stats.median(setupS) + warmMs / 1000
      val loopStart = System.nanoTime()
      // traced runs alternate traced and untraced units (at least one
      // of each), so the difference between the halves is the tracing overhead
      w.loop(loopStart + o.seconds * 1000000000L, math.max(w.minUnits, if (o.trace) 2 else 1),
        i => o.trace && i % 2 == 0)
      val wallS = (System.nanoTime() - loopStart) / 1e9
      w.finish()
      val samples = ctx.sampleSeq
      val untraced = samples.filterNot(_.traced)
      val (ops, spans) = tracer.map(_.finish()).getOrElse((Nil, Nil))
      val rss = peakRssMb()

      val headline = w.headline(samples, wallS)
      val e2e = Map("setup_s" -> setup) ++ headline
      val failures = ctx.failures.asScala.toSeq
      val attempted = ctx.attempted.get()
      val correct = failures.isEmpty && attempted > 0

      val perLayer: Map[String, Double] = if (!o.trace) Map.empty else {
        def wallOf(xs: Seq[Sample]) = xs.filter(_.kind.startsWith(w.unitKind)).map(_.ms).sum / 1000 / w.concurrency
        val (tr, un) = samples.partition(_.traced)
        val (ht, hu) = (w.headline(tr, wallOf(tr)), w.headline(un, wallOf(un)))
        def pct(k: String) = {
          val p = Workload.ratio(ht(k) - hu(k), hu(k)) * 100
          if (p.isNaN || p.isInfinite) 0.0 else p
        }
        w.layers(ops) ++ Workload.selfLayers(ops) ++ Map(
          "trace.overhead_op_ms_pct" -> pct("op_ms"),
          "trace.overhead_work_per_s_pct" -> pct("work_per_s"),
          "trace.traced_ops" -> ops.size.toDouble)
      }
      val unknown = perLayer.keySet -- PerLayer.map(_._1)
      require(unknown.isEmpty, s"per-layer metrics missing from the declared list: ${unknown.mkString(", ")}")

      val provenance = Map(
        "source" -> o.source, "commit" -> o.commit, "seed" -> o.seed, "cpus" -> cpus,
        "max_heap_mb" -> sys.runtime.maxMemory / 1048576, "spark" -> spark.version,
        "java" -> System.getProperty("java.version"), "trace" -> o.trace)
      // a traced run reports the untraced half, over its share of the wall time
      val units = samples.count(_.kind.startsWith(w.unitKind))
      val share = if (!o.trace || units == 0) 1.0 else untraced.count(_.kind.startsWith(w.unitKind)).toDouble / units
      val named = w.named(if (o.trace) untraced else samples, wallS * share)
      val report = Map(
        "workload" -> w.name, "provenance" -> provenance, "fixture" -> w.fixture,
        "seconds" -> o.seconds, "measured_s" -> wallS,
        "setup" -> Map("session_s" -> sessionS, "write_s" -> setupS, "warmup_s" -> warmMs / 1000),
        "metrics" -> (named.map { case (k, m) => k -> m.json } ++
          Map("setup_s" -> Metric(setup, "s").json, "peak_rss_mb" -> Metric(rss, "MB").json,
            "error_rate" -> Metric(Workload.ratio(failures.size, attempted), "ratio", attempted.toInt).json)),
        "attempted" -> attempted, "failed" -> failures.size, "failures" -> failures.take(20),
        "per_layer" -> perLayer)
      val stem = s"${w.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
      val reportLine = Json(Map("report" -> report))
      write(new File(o.out, s"$stem.json"), Iterator(reportLine))
      tracer.foreach(t => write(new File(o.out, s"$stem.spans.jsonl"), t.spanLines(spans)))
      failures.take(20).foreach(f => System.err.println(s"perfbench: failed: $f"))

      val metrics =
        if (o.trace) PerLayer.map { case (k, u) => k -> Map("value" -> perLayer.getOrElse(k, 0.0), "unit" -> u) }
        else EndToEnd.map { case (k, u) => k -> Map("value" -> e2e(k), "unit" -> u) }
      println(reportLine)
      println(Json(scala.collection.immutable.ListMap(
        "correct" -> correct, "attempted" -> attempted, "failed" -> failures.size,
        "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    } finally spark.stop()
  }

  private def write(f: File, lines: Iterator[String]): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try lines.foreach(pw.println) finally pw.close()
  }
}
