package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.EsdbWriter
import graft.sources.TsBounds

/** Property fuzz for the ts-range pushdown (SURVEY.md §5; the
  * reference's Scanner-false time-bound early exit, space.go:14,
  * esdb_test.go:229-232), in two layers:
  *
  *  1. pure [[TsBounds]] algebra — any sequence of `withLower` /
  *     `withUpper` pushes must behave exactly like the conjunction of
  *     the individual predicates, and the early-exit tests must never
  *     admit a row the bounds would keep;
  *  2. end-to-end — random ts predicates (bounds, inclusivity,
  *     grouping pins) through the DSv2 ordered source must return
  *     exactly the vanilla parquet rows, on a store containing null
  *     and duplicate timestamps. This is the claimed-handled-but-
  *     unapplied trap from round 5: if the builder ever absorbs a
  *     filter the reader does not enforce, this fuzz fails. The same
  *     reader serves the log layout, whose bound is on `event_id`:
  *     random id bounds, with and without a limit, over a log of
  *     interleaved appends holding null and duplicate ids, must equal
  *     vanilla parquet ordered by `event_id`.
  *
  * Raw ScalaCheck generators with fixed seeds, as in [[InvariantSpec]]
  * (the scalatest-scalacheck bridge is not in the offline cache).
  */
class TsBoundsFuzzSpec extends SparkSpec {
  import spark.implicits._

  private sealed trait Push
  private final case class Lower(v: Long, incl: Boolean) extends Push
  private final case class Upper(v: Long, incl: Boolean) extends Push

  private val pushGen: Gen[Push] = for {
    v <- Gen.choose(-5L, 5L)
    incl <- Gen.oneOf(true, false)
    lower <- Gen.oneOf(true, false)
  } yield if (lower) Lower(v, incl) else Upper(v, incl)

  private def pushes(seed: Long): List[Push] =
    Gen.nonEmptyListOf(pushGen).apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(List(Lower(0L, incl = true)))

  private def fold(ps: List[Push]): TsBounds = ps.foldLeft(TsBounds.unbounded) {
    case (acc, Lower(v, i)) => acc.withLower(v, i)
    case (acc, Upper(v, i)) => acc.withUpper(v, i)
  }

  private def conjunction(ps: List[Push], ts: Long): Boolean = ps.forall {
    case Lower(v, true)  => ts >= v
    case Lower(v, false) => ts > v
    case Upper(v, true)  => ts <= v
    case Upper(v, false) => ts < v
  }

  test("contains == conjunction of every pushed predicate, for any push sequence") {
    for (seed <- 1 to 300) {
      val ps = pushes(seed)
      val b = fold(ps)
      for (ts <- -7L to 7L)
        assert(b.contains(ts) == conjunction(ps, ts), s"pushes=$ps ts=$ts bounds=$b")
    }
  }

  test("push order never matters: any permutation folds to the same bounds") {
    for (seed <- 1 to 100) {
      val ps = pushes(seed)
      val b = fold(ps)
      val shuffled = new scala.util.Random(seed).shuffle(ps)
      assert(fold(shuffled) == b, s"order-dependent fold: $ps vs $shuffled")
    }
  }

  test("belowLower/aboveUpper early exits are safe and monotone") {
    for (seed <- 1 to 200) {
      val b = fold(pushes(seed))
      for (ts <- -7L to 7L) {
        // an early exit must never fire on a row the bounds would keep
        if (b.belowLower(ts) || b.aboveUpper(ts)) assert(!b.contains(ts), s"$b ts=$ts")
        // ts-desc stream: once below the lower bound, every later (smaller) ts is too
        if (b.belowLower(ts)) assert(b.belowLower(ts - 1), s"$b ts=$ts")
        // id-asc stream dual
        if (b.aboveUpper(ts)) assert(b.aboveUpper(ts + 1), s"$b ts=$ts")
        // and a kept row is never early-exited
        if (b.contains(ts)) assert(!b.belowLower(ts) && !b.aboveUpper(ts), s"$b ts=$ts")
      }
    }
  }

  /** Store with duplicate timestamps (tiebreak coverage), null ts rows,
    * and two groupings, written in two batches so every scan merges.
    */
  private lazy val fuzzStore: String = {
    val dir = java.nio.file.Files.createTempDirectory("tsfuzz").toFile
    dir.delete()
    val rows: Seq[(String, String, Option[Long], Long, Double, String)] =
      (1 to 120).map { i =>
        val ts = if (i % 7 == 0) None else Some((i % 15).toLong * 100)
        ("s", s"g${i % 2}", ts, i.toLong, i / 10.0, s"""{"k": ${i % 4}}""")
      }
    val df = rows.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    val (a, b) = (df.where($"event_id" <= 60), df.where($"event_id" > 60))
    EsdbWriter.write(a, dir.getAbsolutePath)
    EsdbWriter.append(b, dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  private def ids(df: DataFrame, pred: Column): Seq[Long] =
    df.where(pred).select("event_id").as[Long].collect().toSeq.sorted

  test("end-to-end: random ts predicates match vanilla parquet exactly (nulls, ties, pins)") {
    val o = EsdbWriter.readOrdered(spark, fuzzStore)
    val v = EsdbWriter.read(spark, fuzzStore)
    // ts values land on, between, and outside the data's 0..1400 range
    val boundValue = Gen.oneOf(Gen.choose(-200L, 1600L), Gen.choose(0L, 14L).map(_ * 100))
    val predGen: Gen[(String, Column)] = for {
      lo <- Gen.option(boundValue)
      hi <- Gen.option(boundValue)
      loIncl <- Gen.oneOf(true, false)
      hiIncl <- Gen.oneOf(true, false)
      pin <- Gen.option(Gen.oneOf("g0", "g1"))
    } yield {
      val parts =
        lo.map(x => if (loIncl) ($"ts_us" >= x, s"ts>=$x") else ($"ts_us" > x, s"ts>$x")).toSeq ++
        hi.map(x => if (hiIncl) ($"ts_us" <= x, s"ts<=$x") else ($"ts_us" < x, s"ts<$x")).toSeq ++
        pin.map(g => ($"grouping" === g, s"g=$g")).toSeq
      if (parts.isEmpty) ("true", lit(true))
      else (parts.map(_._2).mkString(" AND "), parts.map(_._1).reduce(_ && _))
    }
    var nonTrivial = 0
    for (seed <- 1 to 60) {
      val (desc, pred) = predGen.apply(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(("true", lit(true)))
      val got = ids(o, pred)
      val want = ids(v, pred)
      assert(got == want, s"pushdown mismatch under [$desc]: got=$got want=$want")
      if (want.nonEmpty && want.size < 120) nonTrivial += 1
    }
    assert(nonTrivial > 20, s"fuzz degenerate: only $nonTrivial selective non-empty predicates")
  }

  /** Log with null and duplicate event_ids, written as three appends
    * whose id ranges interleave, so every read merges their files.
    */
  private lazy val fuzzLog: String = {
    val dir = java.nio.file.Files.createTempDirectory("idfuzz").toFile
    dir.delete()
    val rows: Seq[(String, String, Long, Option[Long], Double, String)] =
      (1 to 120).map { i =>
        val id = if (i % 9 == 0) None else Some((i % 40).toLong) // each id up to 3 times
        ("s", s"g${i % 2}", i.toLong * 10, id, i / 10.0, "{}")
      }
    val df = rows.toDF("space", "grouping", "ts_us", "event_id", "value", "payload")
    EsdbWriter.writeLog(df.where($"ts_us" % 30 === 0), dir.getAbsolutePath)
    EsdbWriter.appendLog(df.where($"ts_us" % 30 === 10), dir.getAbsolutePath)
    EsdbWriter.appendLog(df.where($"ts_us" % 30 === 20), dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  test("end-to-end, log layout: random id bounds and limits match vanilla parquet ordered by event_id") {
    val o = EsdbWriter.readLog(spark, fuzzLog)
    val v = spark.read.parquet(graft.engine.Publish.resolve(
      spark.sparkContext.hadoopConfiguration, fuzzLog))
    assert(v.inputFiles.length >= 3, "fuzz log must hold the three appends' interleaved files")
    // id values land on, between, and outside the data's 0..39 range
    val predGen: Gen[(String, Column, Option[Int])] = for {
      lo <- Gen.option(Gen.choose(-5L, 45L))
      hi <- Gen.option(Gen.choose(-5L, 45L))
      loIncl <- Gen.oneOf(true, false)
      hiIncl <- Gen.oneOf(true, false)
      limit <- Gen.option(Gen.choose(1, 60))
    } yield {
      val parts =
        lo.map(x => if (loIncl) ($"event_id" >= x, s"id>=$x") else ($"event_id" > x, s"id>$x")).toSeq ++
        hi.map(x => if (hiIncl) ($"event_id" <= x, s"id<=$x") else ($"event_id" < x, s"id<$x")).toSeq
      val (desc, pred) =
        if (parts.isEmpty) ("true", lit(true))
        else (parts.map(_._2).mkString(" AND "), parts.map(_._1).reduce(_ && _))
      (desc + limit.fold("")(n => s" LIMIT $n"), pred, limit)
    }
    def read(df: DataFrame, pred: Column, limit: Option[Int]): Seq[(Option[Long], Double)] = {
      val sorted = df.where(pred).orderBy("event_id")
      limit.fold(sorted)(sorted.limit).select("event_id", "value")
        .as[(Option[Long], Double)].collect().toSeq
    }
    var nonTrivial = 0
    for (seed <- 1 to 60) {
      val (desc, pred, limit) = predGen.apply(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(("true", lit(true), None))
      val got = read(o, pred, limit)
      val want = read(v, pred, limit)
      // ties on a duplicate id may arrive in either order, and a limit
      // may cut inside them: the id sequence is exact, and without a
      // limit so are the rows
      assert(got.map(_._1) == want.map(_._1), s"id order mismatch under [$desc]: got=$got want=$want")
      if (limit.isEmpty) assert(got.sortBy(_._2) == want.sortBy(_._2), s"row mismatch under [$desc]")
      if (want.nonEmpty && want.size < 120) nonTrivial += 1
    }
    assert(nonTrivial > 20, s"fuzz degenerate: only $nonTrivial selective non-empty predicates")
  }
}
