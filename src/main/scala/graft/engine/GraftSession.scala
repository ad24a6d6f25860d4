package graft.engine

import org.apache.spark.sql.SparkSession

/** The repository's one session setup. [[local]] builds the session
  * every main runs on; [[tune]] sets the session-level knobs the engine
  * needs regardless of who built the SparkSession (tests, embedding
  * applications), and the engine calls it before it reads or writes.
  *
  * `nanosAsLong`: the test datasets carry parquet TIMESTAMP(NANOS)
  * columns, which Spark 4 refuses to map to TimestampType
  * ([PARQUET_TYPE_ILLEGAL]). Reading them as raw Long (nanos since
  * epoch) is lossless; the engine then normalizes to explicit
  * micros-since-epoch (`ts_us`) columns, matching DuckDB's
  * truncate-to-micros read of the same files.
  */
object GraftSession {

  /** A `local[cpus]` session with one shuffle partition per core, UTC,
    * the engine's extensions and no UI, then [[tune]]d. `cpus` defaults
    * to `SPARK_GRAFT_CPUS`, else 4.
    */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.engine.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  def tune(spark: SparkSession): SparkSession = {
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // let AQE re-plan shuffles above cached (persisted) frames: the
      // iterative dedup/clustering operators persist small intermediates,
      // and without this flag every shuffle over them keeps the static
      // partition count (32 near-empty tasks) instead of coalescing
      spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // honor the KeyGroupedPartitioning the esdb store scan reports
      // (one partition per space): exchange-free groupBy(space) and
      // storage-partitioned store<->store joins; pushPartValues lets a
      // join proceed when the two stores hold different space sets
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // skew: when a scan splits a hot space into multiple same-key
      // partitions (option("skewSplit")), let SPJ keep them as separate
      // tasks and replicate the other side's groups instead of
      // re-serializing the space into one task
      spark.conf.set("spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      // metadata-only column rename/drop ([[FieldIds]]): stores whose
      // sidecar carries parquet field IDs stamp them into every file
      // (write) and resolve columns by ID, not name (read) — renamed
      // columns keep reading old files. Schemas without ID metadata
      // (plain parquet, legacy stores) are untouched by either flag.
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    }
    catch { case _: Exception => () } // conf locked down: proceed, reads may still work
    // engine-native functions available on every session the engine
    // touches (GraftExtensions covers cluster deploys; this covers
    // sessions built by harnesses/tests)
    graft.functions.VectorFunctions.register(spark)
    graft.functions.JsonFunctions.register(spark)
    graft.functions.SampleFunctions.register(spark)
    // the local-read strategy likewise, once per session
    if (!spark.sessionState.planner.strategies.contains(graft.plans.EsdbLocalReadStrategy))
      spark.experimental.extraStrategies :+= graft.plans.EsdbLocalReadStrategy
    spark
  }
}
