package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

import graft.engine.{EsdbWriter, Publish}

/** Row-level UPDATE ([[EsdbWriter.updateWhere]] + the
  * `CALL esdb.system.update_where` SQL surface): the redaction half of
  * GDPR — "scrub this field" — through the same footer-stats
  * copy-on-write as the predicate delete. Cost tracks the predicate's
  * stat-range footprint: files stats prove unmatched carry
  * byte-for-byte; predicate-NULL rows stay untouched (SQL UPDATE
  * semantics); every assignment sees the PRE-update row.
  */
class UpdateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    dir.delete()
    dir.getAbsolutePath
  }

  /** values 0.1..9.0 across spaces a/b/c; space c additionally holds a
    * high-value block (100.0+) no other space reaches.
    */
  private def mk(): DataFrame =
    ((1 to 90).map { i =>
      (Seq("a", "b", "c")(i % 3), s"g${i % 4}", i.toLong * 1000, i.toLong, i / 10.0, s"p$i")
    } ++ (1000 to 1009).map { i =>
      ("c", "g4", i.toLong * 1000, i.toLong, i / 10.0, s"p$i")
    }).toDF("space", "grouping", "ts_us", "event_id", "value", "payload")

  private def dataFileNames(p: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(EsdbWriter.dataRoot(spark, p))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("space="))
      .flatMap(d => EsdbWriter.relativeDataFiles(fs, d.getPath).map(_._1))
      .toSet
  }

  private def rows(df: DataFrame): Set[(Long, String, String, Double, String)] =
    df.select("event_id", "space", "grouping", "value", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3), r.getString(4)))
      .toSet

  test("predicate update rewrites matching rows, matches the DataFrame equivalent") {
    val p = tmp("updbasic")
    val df = mk()
    EsdbWriter.write(df, p)
    val rewrote = EsdbWriter.updateWhere(spark, p,
      Map("value" -> lit(0.0), "payload" -> lit("{}")),
      Seq(GreaterThanOrEqual("value", 100.0)))
    assert(rewrote, "rows >= 100 exist, so the update must publish")
    val hit = coalesce(col("value") >= 100.0, lit(false))
    val expected = df
      .withColumn("new_value", when(hit, lit(0.0)).otherwise(col("value")))
      .withColumn("new_payload", when(hit, lit("{}")).otherwise(col("payload")))
      .drop("value", "payload")
      .withColumnRenamed("new_value", "value")
      .withColumnRenamed("new_payload", "payload")
    assert(rows(EsdbWriter.readOrdered(spark, p)) == rows(expected))
  }

  test("files whose stats exclude the predicate carry byte-for-byte") {
    val p = tmp("updcarry")
    EsdbWriter.write(mk(), p)
    val before = dataFileNames(p)
    // only space c holds values >= 100: a and b must carry verbatim
    EsdbWriter.updateWhere(spark, p, Map("payload" -> lit("{}")),
      Seq(GreaterThanOrEqual("value", 100.0)))
    val after = dataFileNames(p)
    assert(before.filter(f => f.startsWith("space=a/") || f.startsWith("space=b/"))
      .subsetOf(after), s"carried files changed: before=$before after=$after")
    assert(before.filter(_.startsWith("space=c/")).intersect(after).isEmpty,
      "the stats-hit space must have been rewritten")
    val got = EsdbWriter.readOrdered(spark, p)
    assert(got.where(col("value") >= 100.0 && col("payload") =!= "{}").count() == 0)
    assert(got.where(col("payload") === "{}").count() == 10)
  }

  test("a stats-proven no-op update publishes nothing and returns false") {
    val p = tmp("updnoop")
    EsdbWriter.write(mk(), p)
    val conf = spark.sparkContext.hadoopConfiguration
    val before = Publish.currentVersion(conf, p)
    val rewrote = EsdbWriter.updateWhere(spark, p, Map("value" -> lit(0.0)),
      Seq(LessThan("value", -5.0)))
    assert(!rewrote)
    assert(Publish.currentVersion(conf, p) == before,
      "a stats-proven no-op update must not publish a version")
  }

  test("predicate NULL leaves the row untouched (SQL UPDATE semantics)") {
    val p = tmp("updnull")
    val df = Seq(
      ("a", "g0", 1L, 1L, Some(1.0), "x"),
      ("a", "g0", 2L, 2L, None, "y"), // value NULL: predicate NULL
      ("a", "g0", 3L, 3L, Some(9.0), "z"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(df, p)
    EsdbWriter.updateWhere(spark, p, Map("payload" -> lit("HIT")),
      Seq(GreaterThan("value", 5.0)))
    val got = EsdbWriter.readOrdered(spark, p)
      .select("event_id", "payload").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "x", 2L -> "y", 3L -> "HIT"))
  }

  test("every assignment sees the PRE-update row (simultaneous semantics)") {
    val p = tmp("updsim")
    val df = Seq(("a", "g0", 10L, 1L, 2.0, "x"))
      .toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.write(df, p)
    // swap-flavored SET: value := ts_us, ts_us := value * 100 — the
    // second assignment must see value=2.0, not the first's result
    EsdbWriter.updateWhere(spark, p,
      Map("value" -> col("ts_us").cast("double"),
        "ts_us" -> (col("value") * 100).cast("long")),
      Seq(EqualTo("event_id", 1L)))
    val r = EsdbWriter.readOrdered(spark, p)
      .select("value", "ts_us").collect().head
    assert(r.getDouble(0) == 10.0 && r.getLong(1) == 200L)
  }

  test("assignments cast to the column's existing type; schema never drifts") {
    val p = tmp("updcast")
    EsdbWriter.write(mk(), p)
    val schemaBefore = EsdbWriter.readOrdered(spark, p).schema
    EsdbWriter.updateWhere(spark, p, Map("ts_us" -> lit(3.7)), // double into long col
      Seq(EqualTo("event_id", 1L)))
    val got = EsdbWriter.readOrdered(spark, p)
    assert(got.schema == schemaBefore)
    assert(got.where(col("event_id") === 1L).select("ts_us").as[Long].head() == 3L)
  }

  test("unknown SET column and sealed store both refuse") {
    val p = tmp("updrefuse")
    EsdbWriter.write(mk(), p)
    intercept[IllegalArgumentException] {
      EsdbWriter.updateWhere(spark, p, Map("no_such_col" -> lit(1)),
        Seq(GreaterThanOrEqual("value", 0.0)))
    }
    EsdbWriter.seal(spark, p, "k")
    intercept[IllegalArgumentException] {
      EsdbWriter.updateWhere(spark, p, Map("value" -> lit(0.0)),
        Seq(GreaterThanOrEqual("value", 0.0)))
    }
  }

  test("SQL surface: CALL esdb.system.update_where redacts through the catalog") {
    val p = tmp("updsql")
    EsdbWriter.write(mk(), p)
    val name = new java.io.File(p).getName
    spark.conf.set("spark.sql.catalog.esdb_updt", classOf[graft.sources.EsdbCatalog].getName)
    spark.conf.set("spark.sql.catalog.esdb_updt.root", new java.io.File(p).getParent)
    val res = spark.sql(
      s"""CALL esdb_updt.system.update_where(
         |  table => '$name',
         |  set => "payload = '{}', value = 0.0",
         |  where => 'value >= 50 * 2')""".stripMargin).collect()
    assert(res.head.getBoolean(1), "the update must have rewritten")
    val got = EsdbWriter.readOrdered(spark, p)
    assert(got.where(col("value") >= 100.0).count() == 0)
    assert(got.where(col("payload") === "{}").count() == 10)
    assert(got.count() == 100)
    // re-CALL: post-update stats prove a no-op (idempotent redaction)
    val res2 = spark.sql(
      s"""CALL esdb_updt.system.update_where(
         |  table => '$name',
         |  set => "payload = '{}'",
         |  where => 'value >= 50 * 2')""".stripMargin).collect()
    assert(!res2.head.getBoolean(1))
  }

  test("unknown SET column refuses even when stats prove the predicate a no-op") {
    val p = tmp("updunknowncol")
    EsdbWriter.write(mk(), p)
    // max value in the store is 100.9 — stats prove no file matches,
    // but the bad assignment must still fail loudly, not return false
    intercept[IllegalArgumentException] {
      EsdbWriter.updateWhere(spark, p, Map("no_such_col" -> lit(1)),
        Seq(GreaterThanOrEqual("value", 1.0e9)))
    }
  }

  test("analysis-time-only predicates: evaluable fold in, Unevaluable refuse cleanly") {
    val p = tmp("updunevaluable")
    EsdbWriter.write(mk(), p)
    // current_timestamp() IS evaluable in Spark 4 and folds to a literal
    // at translate time: every ts_us predates "now", so the whole store
    // redacts — no internal error out of the constant fold
    assert(graft.sources.UpdateSql.updateWhere(spark, p,
      "payload = '{}'", "ts_us < unix_micros(current_timestamp())"))
    assert(EsdbWriter.readOrdered(spark, p)
      .where(col("payload") =!= "{}").count() == 0)
    // current_user() stays Unevaluable at analysis time: the fold must
    // skip it and the filter translation refuse with the intended
    // IllegalArgumentException, not an internal eval() error
    intercept[IllegalArgumentException] {
      graft.sources.UpdateSql.updateWhere(spark, p,
        "payload = '{}'", "payload < current_user()")
    }
  }

  test("SQL surface refuses a predicate the Filter algebra can't express") {
    val p = tmp("updsqlrefuse")
    EsdbWriter.write(mk(), p)
    intercept[IllegalArgumentException] {
      graft.sources.UpdateSql.updateWhere(spark, p,
        "payload = '{}'", "value + ts_us > 100") // arithmetic over two columns
    }
  }

  test("fuzz: random SET + predicate matches the DataFrame equivalent") {
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 5) {
      val p = tmp(s"updfuzz$trial")
      val base: Seq[(String, String, java.lang.Long, Long, Double, String)] =
        (1 to 300).map { i =>
          val ts: java.lang.Long =
            if (rnd.nextInt(12) == 0) null else java.lang.Long.valueOf(rnd.nextInt(100000).toLong)
          (s"s${rnd.nextInt(3)}", s"g${rnd.nextInt(5)}", ts, i.toLong,
            rnd.nextInt(100) / 10.0, s"p$i")
        }
      val df = base.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
      EsdbWriter.write(df, p, subparts = if (trial % 2 == 0) 3 else 1)

      val cut = rnd.nextInt(100) / 10.0
      val (filters, cond) = rnd.nextInt(4) match {
        case 0 => (Seq[Filter](LessThan("value", cut)), col("value") < cut)
        case 1 => (Seq[Filter](GreaterThanOrEqual("value", cut)), col("value") >= cut)
        case 2 =>
          val g = s"g${rnd.nextInt(5)}"
          (Seq[Filter](EqualTo("grouping", g), LessThanOrEqual("value", cut)),
            col("grouping") === g && col("value") <= cut)
        case _ =>
          val tsCut = rnd.nextInt(100000).toLong
          (Seq[Filter](Or(GreaterThan("ts_us", tsCut), IsNull("ts_us"))),
            col("ts_us") > tsCut || col("ts_us").isNull)
      }
      val set: Map[String, org.apache.spark.sql.Column] = rnd.nextInt(3) match {
        case 0 => Map("value" -> lit(-1.0))
        case 1 => Map("payload" -> concat(lit("R:"), col("grouping")),
          "value" -> (col("value") + 100))
        case _ => Map("grouping" -> lit("gX")) // key column update re-lays-out
      }
      EsdbWriter.updateWhere(spark, p, set, filters)

      val hit = coalesce(cond, lit(false))
      val expected = set.foldLeft(df.select(df.columns.map { c =>
        set.get(c) match {
          case Some(v) => when(hit, v.cast(df.schema(c).dataType)).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*))((d, _) => d)
      val key = (d: DataFrame) => d
        .select("event_id", "space", "grouping", "ts_us", "value", "payload")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long].toString)
      assert(key(EsdbWriter.readOrdered(spark, p)) == key(expected),
        s"trial $trial (set=${set.keySet}, filters=$filters): diverged")

      // manifest lists exactly the surviving (space, grouping) pairs
      val manifestPairs = EsdbWriter.manifestGroupings(spark, p).toSeq.flatten.toSet
      val expectedPairs = expected.filter(col("grouping").isNotNull)
        .select("space", "grouping").distinct()
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(manifestPairs.filter(_._2 != null) == expectedPairs,
        s"trial $trial: manifest drifted from post-update pairs")
    }
  }
}
