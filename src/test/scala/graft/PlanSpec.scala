package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression tests: the physical properties that make these
  * operators viable at 100 TB (SCALE.md) are asserted here so a
  * refactor cannot silently trade them away.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.queries(name)(spark, dir).queryExecution.explainString(FormattedMode)

  test("index scan + limit is a true top-k with storage pushdown") {
    val p = plan("space_scan_index_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), "top-k must not shuffle the filtered data\n" + p)
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"), p)
  }

  test("declared store scans plan no Sort and no TakeOrdered (layout order reported)") {
    Seq("store_scan_sorted", "store_scan_sorted_limit").foreach { name =>
      val df = Queries.queries(name)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains(") Sort [") && !p.contains("+- Sort ["), s"$name re-sorts:\n$p")
      assert(!p.contains("TakeOrderedAndProject"), s"$name plans a top-k sort:\n$p")
      assert(p.contains("BatchScan esdb:"), p)
    }
  }

  test("tails pre-aggregates map-side before its shuffle") {
    val p = plan("stream_tails")
    assert(p.contains("partial_max"), "tails must partial-aggregate before the exchange\n" + p)
  }

  test("orders-customer join broadcasts the small side") {
    val p = plan("join_orders_customer")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("join scans prune to the referenced columns only") {
    val p = plan("join_orders_customer")
    assert(p.contains("ReadSchema: struct<o_custkey:bigint,o_totalprice:double>"), p)
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_mktsegment:string>"), p)
  }

  test("sessionize reuses one partitioning for lag, running sum, and aggregate") {
    val p = plan("events_sessionize")
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 2, s"expected data shuffle + presentation sort only, got $exchanges\n" + p)
  }

  test("similarity scoring has no cartesian product and broadcasts queries") {
    val p = plan("similarity_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("dedup pipelines never plan a cartesian product") {
    Seq("dedup_minhash", "dedup_simhash", "dedup_embedding").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cross join\n" + p)
    }
  }

  test("no declared query plans a cartesian product") {
    Queries.all.foreach { q =>
      val p = Queries.queries(q.name)(spark, dir).queryExecution.explainString(FormattedMode)
      assert(!p.contains("CartesianProduct"), s"${q.name} plans a cartesian product\n" + p)
    }
  }

  test("exact embedding pairs broadcast one side — nested loop, not cartesian") {
    val p = plan("dedup_embedding_exact")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("store reads prune partitions on space predicates") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("esdbprune").toFile
    dir.delete()
    val ev = (1 to 50).map(i => (s"s${i % 5}", "g", i.toLong, i.toLong, 0.0, "{}"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    graft.engine.EsdbWriter.write(ev, dir.getAbsolutePath)
    val q = graft.engine.EventStore.scan(
      graft.engine.EsdbWriter.read(spark, dir.getAbsolutePath), "s3", "g")
    val p = q.queryExecution.explainString(FormattedMode)
    // the space predicate must land in PartitionFilters (directory
    // pruning — the reference's file-level SSTable lookup), not in the
    // post-scan Filter
    assert(p.contains("PartitionFilters: [isnotnull(space"), p)
    assert(p.contains("space") && p.contains("= s3"), p)
    assert(q.select("event_id").as[Long].collect().sorted.forall(_ % 5 == 3))
  }

  test("store scan reports key-grouped partitioning: groupBy(space) plans no hash exchange") {
    val df = Queries.queries("store_join_copartitioned")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the only allowed exchange is the rangepartitioning of the final
    // presentation ORDER BY — every per-space aggregation and the join
    // itself must ride the layout partitioning (one partition per
    // space directory, reported via KeyGroupedPartitioning)
    assert(!p.contains("Exchange hashpartitioning"),
      "store-keyed agg/join must not hash-shuffle\n" + p)
  }

  test("two scans of a key-grouped store join storage-partitioned under forced SMJ") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Queries.queries("store_join_copartitioned")(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        "SPJ must co-locate the two store scans without a shuffle\n" + p)
      assert(p.contains("SortMergeJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("skewSplit: a hot space joins as multiple SPJ tasks, still with no exchange") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("spjskew").toFile
    root.delete()
    val pA = root.getAbsolutePath + "/hot"
    val pB = root.getAbsolutePath + "/dim"
    def batch(lo: Int, hi: Int, sp: String) =
      (lo to hi).map(i => (sp, s"g${i % 7}", i.toLong, i.toLong, 0.0, "{}"))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    // 90%-one-space store, the hot space spread over several files
    graft.engine.EsdbWriter.write(batch(1, 3000, "hot").union(batch(1, 300, "cold")), pA)
    (1 to 3).foreach(k =>
      graft.engine.EsdbWriter.append(batch(3000 * k + 1, 3000 * (k + 1), "hot"), pA))
    graft.engine.EsdbWriter.write(batch(1, 50, "hot").union(batch(1, 50, "cold")), pB)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import org.apache.spark.sql.functions.col
      val a = spark.read.format("esdb").option("skewSplit", "1024").load(pA)
        .select("space", "event_id")
      val b = spark.read.format("esdb").load(pB)
        .select(col("space"), col("event_id").as("b_id"))
      val j = a.join(b, "space")
      assert(j.count() == 12000L * 50 + 300L * 50) // hot 12000 x 50, cold 300 x 50
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        "skew-split SPJ must still not shuffle\n" + p)
      assert(p.contains("SortMergeJoin"), p)
      // the hot space must NOT serialize into one task: more join
      // partitions than distinct spaces proves partially-clustered
      // distribution kept the splits apart
      val parts = j.rdd.getNumPartitions
      assert(parts > 2, s"expected the hot space split across tasks, got $parts partitions\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("skewSplit accepts size-suffixed byte strings and suffixed session confs") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("spjskewconf").toFile
    root.delete()
    val p = root.getAbsolutePath
    graft.engine.EsdbWriter.write(
      (1 to 100).map(i => ("s", "g", i.toLong, i.toLong, 0.0, "{}"))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload"), p)
    // explicit suffixed split size
    assert(spark.read.format("esdb").option("skewSplit", "1m").load(p).count() == 100)
    // "true" resolves the session conf, which users set in suffixed form
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "128MB")
      assert(spark.read.format("esdb").option("skewSplit", "true").load(p).count() == 100)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("json_attr is a codegen expression inside the index-scan stage") {
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[graft.functions.JsonAttr]))
    val df = Queries.queries("stream_tails")(spark, dir)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("json_attr"), executed)
    assert("""\*\(\d+\)""".r.findFirstIn(executed).isDefined, executed) // whole-stage codegen spans exist
  }

  test("vec_dot is a codegen expression in the scoring projection") {
    // not a CodegenFallback: doGenCode emits the primitive loop
    assert(!classOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]
      .isAssignableFrom(classOf[graft.functions.VecDot]))
    val df: DataFrame = Queries.queries("similarity_topk")(spark, dir)
    df.collect() // force AQE to finalize
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("vec_dot"), executed)
    // "*(n)" prefixes mark whole-stage-codegen'd operators in the final plan
    assert("""\*\(\d+\) Project""".r.findFirstIn(executed).isDefined, executed)
  }
}
