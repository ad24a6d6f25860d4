package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

import graft.engine.{EsdbWriter, EventStore, Publish}

/** Value-domain clustering (`write(..., clusterBy = Seq("value"))`):
  * rows range-partition across files on the declared columns so each
  * file's footer min/max covers a narrow slice of the domain — the
  * property that prices predicate DELETE/UPDATE and attr scans by
  * selectivity instead of store size. Inside each file the
  * (grouping, ts-desc) sort is unchanged, so ordered reads stay
  * Sort-free. The declaration is fixed at creation (a `_CLUSTER`
  * marker): appends, compaction, and copy-on-write rewrites all
  * re-cluster on it. Reference analog: the SSTable's key-ordered
  * blocks making point predicates sub-linear (sst/writer.go:48-50).
  */
class ClusterSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dir.delete()
    dir.getAbsolutePath
  }

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** One space, values uniform over [0, 800): 8 chunks of 100. */
  private def mk(n: Int = 800): DataFrame =
    (0 until n).map(i => ("s", s"g${i % 4}", i.toLong * 1000, i.toLong, i.toDouble, s"p$i"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  private def dataFiles(p: String): Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, p))
    EsdbWriter.storeDataFiles(root.getFileSystem(hconf), root).map { case (rel, st, _) => rel -> st }
  }

  /** Per-file (min, max) of a numeric column from parquet footers. */
  private def colRanges(p: String, colName: String): Seq[(Double, Double)] = {
    dataFiles(p).map { case (_, f) =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, hconf))
      try {
        var mn = Double.MaxValue; var mx = Double.MinValue
        r.getFooter.getBlocks.forEach { b =>
          b.getColumns.forEach { c =>
            if (c.getPath.toDotString == colName) {
              val st = c.getStatistics
              mn = math.min(mn, st.genericGetMin.asInstanceOf[Number].doubleValue())
              mx = math.max(mx, st.genericGetMax.asInstanceOf[Number].doubleValue())
            }
          }
        }
        (mn, mx)
      } finally r.close()
    }
  }

  private def valueRanges(p: String): Seq[(Double, Double)] = colRanges(p, "value")

  test("clustered write: 8 near-disjoint value ranges, content and order intact") {
    val p = tmp("clustw")
    EsdbWriter.write(mk(), p, clusterBy = Seq("value"), clusterChunks = 8)
    val ranges = valueRanges(p)
    assert(ranges.size >= 6 && ranges.size <= 9, s"expected ~8 files, got ${ranges.size}: $ranges")
    // ranges must be pairwise disjoint (range partitioner guarantees it)
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, mxA), (mnB, _)) => assert(mxA <= mnB, s"overlapping ranges: $sorted")
      case _ => ()
    }
    assert(EsdbWriter.clusterOf(hconf, EsdbWriter.dataRoot(spark, p)) == EsdbWriter.Clustering(Seq("value"), 8))
    // content identical to the unclustered store; ordered scan holds
    val scan = EventStore.scan(EsdbWriter.readOrdered(spark, p), "s", "g1")
      .select("event_id").as[Long].collect().toSeq
    assert(scan == (0L until 800L).filter(_ % 4 == 1).reverse, "ts-desc scan order must hold")
    assert(EsdbWriter.read(spark, p).count() == 800)
  }

  test("predicate delete on a clustered store touches files proportional to selectivity") {
    val p = tmp("clustdel")
    EsdbWriter.write(mk(), p, clusterBy = Seq("value"), clusterChunks = 8)
    val before = dataFiles(p).map(_._1).toSet
    // delete 1/8 of the domain: stats must carry ~7/8 of the files
    EsdbWriter.deleteWhere(spark, p, Seq(GreaterThanOrEqual("value", 700.0)))
    val after = dataFiles(p).map(_._1).toSet
    val carried = before.intersect(after)
    assert(carried.size >= before.size - 2,
      s"expected all but ~1 of ${before.size} files carried, carried only ${carried.size}")
    // the rewrite's output is sized to its slice, not re-fanned to 8
    assert((after -- before).size <= 2,
      s"1/8-domain rewrite fragmented into ${(after -- before).size} files")
    assert(EsdbWriter.read(spark, p).where(col("value") >= 700.0).count() == 0)
    assert(EsdbWriter.read(spark, p).count() == 700)
  }

  test("predicate update on a clustered store touches files proportional to selectivity") {
    val p = tmp("clustupd")
    EsdbWriter.write(mk(), p, clusterBy = Seq("value"), clusterChunks = 8)
    val before = dataFiles(p).map(_._1).toSet
    val rewrote = EsdbWriter.updateWhere(spark, p, Map("payload" -> lit("{}")),
      Seq(LessThan("value", 100.0)))
    assert(rewrote)
    val after = dataFiles(p).map(_._1).toSet
    assert(before.intersect(after).size >= before.size - 2,
      s"expected all but ~1 of ${before.size} files carried")
    val got = EsdbWriter.read(spark, p)
    assert(got.where(col("value") < 100.0 && col("payload") =!= "{}").count() == 0)
    assert(got.where(col("payload") === "{}").count() == 100)
  }

  test("append and compact preserve the clustering declaration") {
    val p = tmp("clustac")
    EsdbWriter.write(mk(400), p, clusterBy = Seq("value"), clusterChunks = 4)
    // append re-clusters its batch on the declared columns
    EsdbWriter.append(
      (400 until 800).map(i => ("s", s"g${i % 4}", i.toLong * 1000, i.toLong, i.toDouble, s"p$i"))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload"), p)
    EsdbWriter.compact(spark, p)
    // the marker survived the publish and the compacted store re-clustered
    assert(EsdbWriter.clusterOf(hconf, EsdbWriter.dataRoot(spark, p)) == EsdbWriter.Clustering(Seq("value"), 4))
    val ranges = valueRanges(p).sortBy(_._1)
    assert(ranges.size >= 3 && ranges.size <= 5, s"expected ~4 files post-compact, got $ranges")
    ranges.sliding(2).foreach {
      case Seq((_, mxA), (mnB, _)) => assert(mxA <= mnB, s"overlapping ranges: $ranges")
      case _ => ()
    }
    assert(EsdbWriter.read(spark, p).count() == 800)
    // and stats pruning works on the compacted result
    val before = dataFiles(p).map(_._1).toSet
    EsdbWriter.deleteWhere(spark, p, Seq(LessThan("value", 150.0)))
    val after = dataFiles(p).map(_._1).toSet
    assert(before.intersect(after).size >= before.size - 2,
      "post-compact clustered store must still prune by stats")
    assert(EsdbWriter.read(spark, p).count() == 650)
  }

  test("clustering composes with subpartitioning; versioned append carries the marker") {
    val p = tmp("clustsub")
    EsdbWriter.write(mk(400), p, subparts = 2, clusterBy = Seq("value"), clusterChunks = 4)
    assert(EsdbWriter.read(spark, p).count() == 400)
    EsdbWriter.appendVersioned(
      (400 until 500).map(i => ("s", s"g${i % 4}", i.toLong * 1000, i.toLong, i.toDouble, s"p$i"))
        .toDF("space", "grouping", "ts_us", "event_id", "value", "payload"), p)
    assert(EsdbWriter.read(spark, p).count() == 500)
    assert(EsdbWriter.clusterOf(hconf, EsdbWriter.dataRoot(spark, p)) == EsdbWriter.Clustering(Seq("value"), 4),
      "appendVersioned must carry the cluster marker into the new version")
    assert(EsdbWriter.subpartsOf(hconf, EsdbWriter.dataRoot(spark, p)) == 2)
    // grouping-pinned scan correctness across buckets + clusters
    val scan = EventStore.scan(EsdbWriter.readOrdered(spark, p), "s", "g2")
      .select("event_id").as[Long].collect().toSeq
    assert(scan == (0L until 500L).filter(_ % 4 == 2).reverse)
  }

  /** Two INDEPENDENT uniform dimensions: value ∈ [0,80), ts ∈ [0,40)ms
    * — the shape where a lexicographic range curve leaves the second
    * column unprunable and Z-order makes both narrow.
    */
  private def mkGrid(n: Int = 3200): DataFrame =
    (0 until n).map(i => ("s", s"g${i % 4}", (i / 80).toLong * 1000, i.toLong,
      (i % 80).toDouble, s"p$i"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  test("zorder: BOTH columns' per-file ranges are narrow; range curve only the first") {
    def avgSpan(rs: Seq[(Double, Double)]): Double =
      rs.map { case (mn, mx) => mx - mn }.sum / rs.size
    val pz = tmp("zorder")
    EsdbWriter.write(mkGrid(), pz, clusterBy = Seq("value", "ts_us"),
      clusterChunks = 16, clusterCurve = "zorder")
    val pr = tmp("zrange")
    EsdbWriter.write(mkGrid(), pr, clusterBy = Seq("value", "ts_us"), clusterChunks = 16)

    // range curve: value (leading) is sharp, ts straddles ~the whole
    // domain in every file; zorder: both dimensions ~quartered
    val (zVal, zTs) = (avgSpan(colRanges(pz, "value")), avgSpan(colRanges(pz, "ts_us")))
    val (rVal, rTs) = (avgSpan(colRanges(pr, "value")), avgSpan(colRanges(pr, "ts_us")))
    assert(zVal <= 40.0, s"zorder value spans must be sub-half-domain, avg $zVal")
    assert(zTs <= 20000.0, s"zorder ts spans must be sub-half-domain, avg $zTs")
    assert(rTs > 2 * zTs,
      s"range curve must leave ts wide (avg $rTs) vs zorder (avg $zTs)")
    assert(rVal <= zVal, "range curve's LEADING column is allowed to be sharper")

    // content + scan order identical to any other layout
    assert(EsdbWriter.read(spark, pz).count() == 3200)
    val scan = EventStore.scan(EsdbWriter.readOrdered(spark, pz), "s", "g1")
      .select("event_id").as[Long].collect().toSeq
    assert(scan == (0L until 3200L).filter(_ % 4 == 1)
      .sortBy(i => (-(i / 80), i)), "ts-desc scan order must hold")

    // the payoff: a ts-ONLY predicate delete prunes on the zorder store
    // (the range-curve store must rewrite nearly everything)
    val beforeZ = dataFiles(pz).map(_._1).toSet
    EsdbWriter.deleteWhere(spark, pz, Seq(GreaterThanOrEqual("ts_us", 30000L)))
    val carriedZ = beforeZ.intersect(dataFiles(pz).map(_._1).toSet)
    val beforeR = dataFiles(pr).map(_._1).toSet
    EsdbWriter.deleteWhere(spark, pr, Seq(GreaterThanOrEqual("ts_us", 30000L)))
    val carriedR = beforeR.intersect(dataFiles(pr).map(_._1).toSet)
    assert(carriedZ.size >= beforeZ.size / 2,
      s"zorder must carry >= half its files on a 1/4-ts delete, carried ${carriedZ.size}/${beforeZ.size}")
    assert(carriedZ.size > carriedR.size,
      s"zorder must out-prune the range curve on the second column " +
        s"(z ${carriedZ.size}/${beforeZ.size} vs r ${carriedR.size}/${beforeR.size})")
    assert(EsdbWriter.read(spark, pz).count() == EsdbWriter.read(spark, pr).count())
  }

  test("append and compact preserve the zorder declaration") {
    val p = tmp("zorderac")
    EsdbWriter.write(mkGrid(1600), p, clusterBy = Seq("value", "ts_us"),
      clusterChunks = 8, clusterCurve = "zorder")
    EsdbWriter.append(mkGrid(3200).where(col("event_id") >= 1600), p)
    EsdbWriter.compact(spark, p)
    assert(EsdbWriter.clusterOf(hconf, EsdbWriter.dataRoot(spark, p)) ==
      EsdbWriter.Clustering(Seq("value", "ts_us"), 8, "zorder"),
      "marker must survive append + compact with its curve")
    assert(EsdbWriter.read(spark, p).count() == 3200)
    // post-compact both dimensions stay narrow
    def avgSpan(rs: Seq[(Double, Double)]): Double =
      rs.map { case (mn, mx) => mx - mn }.sum / rs.size
    assert(avgSpan(colRanges(p, "value")) <= 50.0)
    assert(avgSpan(colRanges(p, "ts_us")) <= 25000.0)
  }

  test("zorder handles null values and constant columns without losing rows") {
    val p = tmp("zordernull")
    val rows = (0 until 400).map { i =>
      val v: java.lang.Double = if (i % 7 == 0) null else java.lang.Double.valueOf((i % 40).toDouble)
      ("s", s"g${i % 4}", (i / 40).toLong * 1000, i.toLong, v, s"p$i")
    }
    val df = rows.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(df, p, clusterBy = Seq("value", "ts_us"),
      clusterChunks = 4, clusterCurve = "zorder")
    assert(EsdbWriter.read(spark, p).count() == 400)
    assert(EsdbWriter.read(spark, p).where(col("value").isNull).count() ==
      (0 until 400).count(_ % 7 == 0), "null-valued rows must survive clustering")
    // a CONSTANT column degenerates to rank 0 everywhere — still writes
    val pc = tmp("zorderconst")
    EsdbWriter.write(df.withColumn("value", lit(5.0)), pc,
      clusterBy = Seq("value", "ts_us"), clusterChunks = 4, clusterCurve = "zorder")
    assert(EsdbWriter.read(spark, pc).count() == 400)
  }

  test("zorder composes with subpartitioning: bucketed scans and pruning both hold") {
    val p = tmp("zordersub")
    EsdbWriter.write(mkGrid(1600), p, subparts = 2,
      clusterBy = Seq("value", "ts_us"), clusterChunks = 8, clusterCurve = "zorder")
    assert(EsdbWriter.read(spark, p).count() == 1600)
    // grouping-pinned scan across buckets + z-chunks stays exact + ordered
    val scan = EventStore.scan(EsdbWriter.readOrdered(spark, p), "s", "g2")
      .select("event_id").as[Long].collect().toSeq
    assert(scan == (0L until 1600L).filter(_ % 4 == 2)
      .sortBy(i => (-(i / 80), i)))
    // a second-column predicate delete still prunes (files live under
    // bucket dirs; footer classification is layout-blind)
    val before = dataFiles(p).map(_._1).toSet
    EsdbWriter.deleteWhere(spark, p, Seq(GreaterThanOrEqual("ts_us", 15000L)))
    val carried = before.intersect(dataFiles(p).map(_._1).toSet)
    assert(carried.nonEmpty, "out-of-window bucketed files must carry")
    assert(EsdbWriter.read(spark, p).count() ==
      (0 until 1600).count(i => (i / 80) * 1000 < 15000))
  }

  test("zorder ranks DATE and BOOLEAN columns: rows survive, date dim narrow per file") {
    val df = (0 until 1600).map { i =>
      ("s", s"g${i % 4}", (i / 40).toLong * 1000, i.toLong, 0.0, s"p$i",
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i / 40)),
        i % 2 == 0)
    }.toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "day", "flag")
    val p = tmp("zorderdate")
    EsdbWriter.write(df, p, clusterBy = Seq("day", "flag"), clusterChunks = 8,
      clusterCurve = "zorder")
    assert(EsdbWriter.read(spark, p).count() == 1600)
    // per-file day spans (domain: 40 days) — the date dim must be narrow
    val spans = dataFiles(p).map { case (_, f) =>
      val r = spark.read.parquet(f.getPath.toString)
        .agg((max(unix_date(col("day"))) - min(unix_date(col("day")))).as("d")).head()
      r.getInt(0)
    }
    val avg = spans.sum.toDouble / spans.size
    assert(avg <= 20.0, s"day spans must be sub-half-domain, avg $avg")
    // a date-range predicate delete prunes by the date dimension
    val before = dataFiles(p).map(_._1).toSet
    EsdbWriter.deleteWhere(spark, p, Seq(GreaterThanOrEqual("day",
      java.sql.Date.valueOf("2024-02-01"))))
    val carried = before.intersect(dataFiles(p).map(_._1).toSet)
    assert(carried.nonEmpty, "pre-February files must carry on a February+ delete")
    assert(EsdbWriter.read(spark, p).count() ==
      (0 until 1600).count(i => i / 40 < 31))
    // TimestampNTZ ranks through the same embedding (cast + epoch micros)
    val pn = tmp("zorderntz")
    EsdbWriter.write(df.withColumn("seen_ntz", col("day").cast("timestamp_ntz")), pn,
      clusterBy = Seq("seen_ntz", "flag"), clusterChunks = 4, clusterCurve = "zorder")
    assert(EsdbWriter.read(spark, pn).count() == 1600)
  }

  test("zorder refuses one column, >4 columns, unrankable columns, unknown curves") {
    val p = tmp("zorderbad")
    intercept[IllegalArgumentException] {
      EsdbWriter.write(mkGrid(10), p, clusterBy = Seq("value"), clusterCurve = "zorder")
    }
    intercept[IllegalArgumentException] {
      EsdbWriter.write(mkGrid(10).withColumn("arr", array(lit(1))), p,
        clusterBy = Seq("value", "arr"), clusterCurve = "zorder")
    }
    intercept[IllegalArgumentException] {
      EsdbWriter.write(mkGrid(10), p, clusterBy = Seq("value", "ts_us"),
        clusterCurve = "hilbert")
    }
  }

  /** Property: the string rank embedding must be MONOTONE w.r.t.
    * Spark's own string order — e(a) < e(b) ⇒ a < b always, and
    * a < b ⇒ e(a) ≤ e(b) with equality only when the 6-byte UTF-8
    * prefixes tie. Violations would place files' footer ranges out of
    * order and silently break string-predicate pruning. Randomized
    * strings including multibyte, empty, and shared-prefix cases.
    */
  test("zorder string key embedding is monotone w.r.t. Spark string order") {
    val rnd = new scala.util.Random(42)
    val alphabet = "abé中z01! _"
    def randStr(): String =
      (0 until rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val strs = (Seq("", "a", "aa", "b", "commonprefix_a", "commonprefix_b",
      " ", "é", "中中中") ++ (1 to 500).map(_ => randStr())).distinct
    val keyed = strs.toDF("s")
      .select(col("s"), EsdbWriter.zorderStringKey(col("s")).as("k"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    def utf8(x: String) = org.apache.spark.unsafe.types.UTF8String.fromString(x)
    // the embedding zero-pads to 6 bytes, so a short string ties with
    // its zero-padded NUL extensions ("" ties with the 1-NUL string) -
    // normalize the same way: equal padded prefixes tie, distinct rank strictly
    def prefix6(x: String) = x.getBytes("UTF-8").take(6).padTo(6, 0.toByte).toSeq
    def hx(x: String) = x.getBytes("UTF-8").map("%02X".format(_)).mkString
    val sorted = keyed.sortWith((x, y) => utf8(x._1).compareTo(utf8(y._1)) < 0)
    sorted.sliding(2).foreach { case Array((s1, k1), (s2, k2)) =>
      assert(k1 <= k2, s"embedding out of order: ${hx(s1)}($k1) vs ${hx(s2)}($k2)")
      if (prefix6(s1) != prefix6(s2))
        assert(k1 < k2, s"distinct prefixes must rank strictly: ${hx(s1)}($k1) vs ${hx(s2)}($k2)")
      else
        assert(k1 == k2, s"tied prefixes must rank equal: ${hx(s1)}($k1) vs ${hx(s2)}($k2)")
    }
  }

  /** Two INDEPENDENT non-numeric dims — a real TIMESTAMP (minutes
    * 0..39) and a string tag (k000..k079, lexicographic = numeric) —
    * the natural clustering keys of event data (r12: the numeric-only
    * restriction is gone; ranks come from monotone key embeddings).
    */
  test("zorder ranks timestamp and string columns: both dims narrow per file") {
    val df = (0 until 3200).map { i =>
      ("s", s"g${i % 4}", (i / 80).toLong * 1000, i.toLong, 0.0, s"p$i",
        new java.sql.Timestamp((i / 80).toLong * 60000L), f"k${i % 80}%03d")
    }.toDF("space", "grouping", "ts_us", "event_id", "value", "payload", "seen_at", "tag")
    val p = tmp("zorderts")
    EsdbWriter.write(df, p, clusterBy = Seq("seen_at", "tag"), clusterChunks = 16,
      clusterCurve = "zorder")
    assert(EsdbWriter.read(spark, p).count() == 3200)
    // per-file spans of both dims (string stats rank by the numeric
    // suffix; domain: seen_at 0..2340s, tag 0..79)
    val spans = dataFiles(p).map { case (_, f) =>
      val r = spark.read.parquet(f.getPath.toString).agg(
        (max(unix_timestamp(col("seen_at"))) - min(unix_timestamp(col("seen_at")))).as("ts"),
        (max(substring(col("tag"), 2, 3).cast("int"))
          - min(substring(col("tag"), 2, 3).cast("int"))).as("tag")).head()
      (r.getLong(0), r.getInt(1))
    }
    val avgTs = spans.map(_._1).sum.toDouble / spans.size
    val avgTag = spans.map(_._2).sum.toDouble / spans.size
    assert(avgTs <= 1200.0, s"seen_at spans must be sub-half-domain, avg $avgTs")
    assert(avgTag <= 40.0, s"tag spans must be sub-half-domain, avg $avgTag")
    // a tag-only predicate delete prunes: out-of-range files carry
    val before = dataFiles(p).map(_._1).toSet
    EsdbWriter.deleteWhere(spark, p, Seq(GreaterThanOrEqual("tag", "k060")))
    val carried = before.intersect(dataFiles(p).map(_._1).toSet)
    assert(carried.size >= before.size / 2,
      s"string zorder must carry >= half its files on a 1/4-tag delete, " +
        s"carried ${carried.size}/${before.size}")
    assert(EsdbWriter.read(spark, p).count() == 3200 - 3200 / 4)
    // strings sharing a >6-byte prefix degenerate to one rank — domain
    // sharpness is lost, rows never are
    val pp = tmp("zorderpfx")
    EsdbWriter.write(df.withColumn("tag", concat(lit("commonprefix_"), col("tag"))),
      pp, clusterBy = Seq("seen_at", "tag"), clusterChunks = 8, clusterCurve = "zorder")
    assert(EsdbWriter.read(spark, pp).count() == 3200)
  }

  test("CTAS TBLPROPERTIES create clustered stores, curve included") {
    val root = tmp("clustctas")
    val cat = "esdbclu"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    mkGrid(800).createOrReplaceTempView("clu_src")
    spark.sql(s"""CREATE TABLE $cat.zt TBLPROPERTIES (
      'clusterBy'='value,ts_us', 'clusterChunks'='8', 'clusterCurve'='zorder')
      AS SELECT * FROM clu_src""")
    assert(EsdbWriter.clusterOf(hconf, EsdbWriter.dataRoot(spark, s"$root/zt")) ==
      EsdbWriter.Clustering(Seq("value", "ts_us"), 8, "zorder"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.zt").head().getLong(0) == 800)
    // both dimensions narrow straight out of CTAS
    def avgSpan(rs: Seq[(Double, Double)]): Double =
      rs.map { case (mn, mx) => mx - mn }.sum / rs.size
    assert(avgSpan(colRanges(s"$root/zt", "value")) <= 40.0)
    assert(avgSpan(colRanges(s"$root/zt", "ts_us")) <= 5000.0)
    // an invalid curve refuses the statement
    intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.bad TBLPROPERTIES (
        'clusterBy'='value,ts_us', 'clusterCurve'='hilbert')
        AS SELECT * FROM clu_src""")
    }
  }

  test("clusterBy refuses layout and unknown columns") {
    val p = tmp("clustbad")
    intercept[IllegalArgumentException] {
      EsdbWriter.write(mk(10), p, clusterBy = Seq("space"))
    }
    intercept[IllegalArgumentException] {
      EsdbWriter.write(mk(10), p, clusterBy = Seq("no_such"))
    }
    intercept[IllegalArgumentException] {
      EsdbWriter.write(mk(10), p, clusterBy = Seq("value"), clusterChunks = 0)
    }
  }

  /** r13: cluster-sharpness drift is MEASURED (ClusterHealth +
    * `cat.t.clustering`) and REPAIRED by maintain — per-batch range
    * cuts keep appends correct but let per-file spans overlap until
    * point lookups open far more files than a fresh clustering would.
    */
  test("sharpness drift: appends degrade overlap; maintain re-clusters past the threshold") {
    import graft.engine.{ClusterHealth, Maintenance}
    val root = tmp("clusdrift")
    val p = s"$root/t"
    Publish.publish(hconf, p, keepVersions = 8) { tmpDir =>
      EsdbWriter.write(mk(), tmpDir, clusterBy = Seq("value"), clusterChunks = 8)
    }: Unit
    val fresh = ClusterHealth.sharpness(spark, p)
    assert(fresh.map(_.column) == Seq("value"))
    assert(fresh.head.overlap <= 1.3, s"fresh clustering must tile the domain: $fresh")
    // drift: each appended batch spans the WHOLE value domain, so its
    // cuts overlap every earlier file's span
    (1 to 4).foreach { k =>
      EsdbWriter.append(mk(800).withColumn("event_id", col("event_id") + lit(k * 10000L)), p)
    }
    val drifted = ClusterHealth.worstOverlap(spark, p).get
    assert(drifted > 3.0, s"4 full-domain appends must blow up the overlap, got $drifted")
    // the SQL-visible form: cat.t.clustering reports the same drift
    val cat = "esdbdrift"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val metaRow = spark.sql(s"SELECT * FROM $cat.t.clustering").collect()
    assert(metaRow.length == 1 && metaRow(0).getString(0) == "value")
    assert(math.abs(metaRow(0).getDouble(2) - drifted) < 1e-9)
    // an unclustered store reports zero rows
    Publish.publish(hconf, s"$root/flat") { tmpDir => EsdbWriter.write(mk(40), tmpDir) }: Unit
    assert(spark.sql(s"SELECT * FROM $cat.flat.clustering").count() == 0)
    // policy-driven repair: maintain re-clusters once overlap > 2.0x
    Maintenance.setPolicy(hconf, p, Maintenance.Policy(
      keepVersions = 2, reclusterOverlapX100 = Some(200L)))
    val actions = Maintenance.maintain(spark, p)
    assert(actions.contains("recluster"), s"got $actions")
    val repaired = ClusterHealth.worstOverlap(spark, p).getOrElse(1.0)
    assert(repaired <= 1.5, s"re-cluster must restore near-disjoint spans, got $repaired")
    assert(EsdbWriter.read(spark, p).count() == 800L * 5, "repair must lose nothing")
    // converged: a second maintain does not re-compact
    assert(!Maintenance.maintain(spark, p).contains("recluster"))
    // and below the threshold nothing fires (fresh store, tight spans)
    Maintenance.setPolicy(hconf, s"$root/flat", Maintenance.Policy(
      keepVersions = 2, reclusterOverlapX100 = Some(200L)))
    assert(!Maintenance.maintain(spark, s"$root/flat").contains("recluster"))
  }
}
