package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._

import graft.sources.ParquetFiles
import graft.sources.ParquetFiles.ColFacts

/** Predicate machinery for arbitrary-predicate row-level DELETE
  * ([[EsdbWriter.deleteWhere]]): translate Spark's pushed [[Filter]]
  * conjunction into a Column for the rewrite, and evaluate it against
  * one file's parquet footer statistics to prove "no row in this file
  * can match" — the license to carry the file byte-for-byte instead of
  * rewriting it. The reference has no analog (its deletes are whole-db
  * drops); this is the natural extension of the keyed delete family to
  * the predicates a SQL user actually writes (`DELETE FROM t WHERE
  * value < 0`), priced by the predicate's stat-range footprint instead
  * of store size.
  *
  * All stat evaluation is CONSERVATIVE: "may match" defaults to true
  * whenever types don't line up, stats are absent, or the shape isn't
  * understood — an unprovable file rewrites (correct, just costlier),
  * never skips.
  */
object DeleteWhere {

  /** The conjunction as one Column, None when any member has a shape
    * we can't translate (callers refuse the delete at analysis).
    */
  def translate(filters: Seq[Filter]): Option[Column] =
    filters.foldLeft(Option(lit(true))) { (acc, f) =>
      for { a <- acc; c <- one(f) } yield a && c
    }

  private def one(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for { lc <- one(l); rc <- one(r) } yield lc && rc
    case Or(l, r) => for { lc <- one(l); rc <- one(r) } yield lc || rc
    case Not(c) => one(c).map(!_)
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case _ => None
  }

  /** May ANY row of `file` satisfy the conjunction? One footer read,
    * no data pages. `space` is the file's partition-path value when
    * the layout stores it in the directory name (bucketed stores) —
    * constant for every row, so predicates on it evaluate exactly;
    * None for flat layouts (logs), where `space` is an ordinary data
    * column with its own footer stats.
    */
  def fileMayMatch(conf: org.apache.hadoop.conf.Configuration,
                   file: org.apache.hadoop.fs.Path, space: Option[String],
                   filters: Seq[Filter]): Boolean =
    mayMatch(ParquetFiles.facts(conf, file), space, filters)

  /** [[fileMayMatch]] for each (file, space) of `files`, the footers
    * read in parallel ([[ParquetFiles.factsOf]]): the verdicts in input order.
    */
  def mayMatch(conf: org.apache.hadoop.conf.Configuration,
               files: Seq[(org.apache.hadoop.fs.Path, Option[String])],
               filters: Seq[Filter]): Seq[Boolean] =
    ParquetFiles.factsOf(conf, files.map(_._1)).zip(files)
      .map { case (f, (_, space)) => mayMatch(f, space, filters) }

  /** A column the file lacks (pre-evolution file) reads as None: every
    * row is null there.
    */
  private def mayMatch(facts: ParquetFiles.FileFacts, space: Option[String],
                       filters: Seq[Filter]): Boolean = {
    def col(c: String): Option[ColFacts] = space match {
      case Some(sp) if c == "space" => Some(ColFacts(facts.rows, Some(0L), Some(sp), Some(sp), true))
      case _ => facts.cols.get(c)
    }
    filters.forall(f => may(f, col))
  }

  /** The proven bounds of a column, strings decoded; None = unknown
    * (an unproven row group's values may lie outside the stats).
    */
  private def lo(c: ColFacts): Option[Any] = c.range.map(r => statValue(r._1))
  private def hi(c: ColFacts): Option[Any] = c.range.map(r => statValue(r._2))

  private def statValue(v: Any): Any = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other
  }

  /** Total-order comparison across the value types footer stats and
    * filter literals actually take; None = incomparable (conservative).
    * Strings compare in unsigned UTF-8 byte order (what parquet min/max
    * and Spark's string ordering both use — UTF-16 `String.compareTo`
    * diverges on supplementary-plane chars); mixed numerics compare
    * exactly through BigDecimal, never through a lossy double (a long
    * stat vs a double literal near 2^53 must not round into a false
    * "provably no match").
    */
  /** Datetime filter values normalize to parquet's physical stat domain
    * (DATE → epoch days Int, TIMESTAMP → epoch micros Long) so a
    * date/timestamp-range predicate prunes by footer stats instead of
    * conservatively rewriting every file. Covers both java.sql and
    * java.time literal families (spark.sql.datetime.java8API toggles
    * which one pushdown hands us).
    */
  private def normDatetime(v: Any): Any = v match {
    case d: java.sql.Date =>
      Int.box(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Int.box(java.lang.Math.toIntExact(d.toEpochDay))
    case t: java.sql.Timestamp =>
      Long.box(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case t: java.time.Instant =>
      Long.box(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t))
    case other => other
  }

  private[engine] def cmp(a0: Any, b0: Any): Option[Int] = {
    val (a, b) = (normDatetime(a0), normDatetime(b0))
    cmpNormed(a, b)
  }

  private def cmpNormed(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: String, y: String) =>
      Some(org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
    case (x: Number, y: Number) =>
      // same-class fast paths; everything else goes through exact decimal
      (x, y) match {
        case (lx: java.lang.Long, ly: java.lang.Long) => Some(lx.compareTo(ly))
        case (lx: java.lang.Integer, ly: java.lang.Integer) => Some(lx.compareTo(ly))
        // no Double.compare fast path: it orders -0.0 < 0.0, while SQL
        // (and the BigDecimal route below) treats them equal — a file
        // whose max stat is -0.0 must not be "proven" to miss `>= 0.0`
        case _ =>
          (numKind(x), numKind(y)) match {
            case (NumNaN, _) | (_, NumNaN) => None
            case (NumInf(sx), NumInf(sy)) => Some(Integer.compare(sx, sy))
            case (NumInf(sx), _) => Some(sx) // ±Inf vs any finite value
            case (_, NumInf(sy)) => Some(-sy)
            case (NumFinite(bx), NumFinite(by)) => Some(bx.compareTo(by))
          }
      }
    case _ => None
  }

  private sealed trait NumKind
  private case object NumNaN extends NumKind
  private final case class NumInf(sign: Int) extends NumKind
  private final case class NumFinite(v: java.math.BigDecimal) extends NumKind

  /** Exact classification of a stat/literal numeric: every integral and
    * binary-float value is represented exactly in BigDecimal.
    */
  private def numKind(n: Number): NumKind = n match {
    case x: java.lang.Double =>
      if (x.isNaN) NumNaN
      else if (x.isInfinite) NumInf(if (x > 0) 1 else -1)
      else NumFinite(new java.math.BigDecimal(x))
    case x: java.lang.Float =>
      if (x.isNaN) NumNaN
      else if (x.isInfinite) NumInf(if (x > 0) 1 else -1)
      else NumFinite(new java.math.BigDecimal(x.doubleValue()))
    case x: java.math.BigDecimal => NumFinite(x)
    case x: java.math.BigInteger => NumFinite(new java.math.BigDecimal(x))
    case x => NumFinite(java.math.BigDecimal.valueOf(x.longValue()))
  }

  /** May any row satisfy `f`, given per-column facts? */
  private def may(f: Filter, facts: String => Option[ColFacts]): Boolean = f match {
    case And(l, r) => may(l, facts) && may(r, facts)
    case Or(l, r) => may(l, facts) || may(r, facts)
    case EqualTo(a, v) => rangeMayContain(facts(a), v)
    case EqualNullSafe(a, v) =>
      if (v == null) mayHaveNulls(facts(a)) else rangeMayContain(facts(a), v)
    case In(a, vs) => vs.exists(v => v != null && rangeMayContain(facts(a), v))
    case GreaterThan(a, v) => boundMay(facts(a), v, gt = true, orEqual = false)
    case GreaterThanOrEqual(a, v) => boundMay(facts(a), v, gt = true, orEqual = true)
    case LessThan(a, v) => boundMay(facts(a), v, gt = false, orEqual = false)
    case LessThanOrEqual(a, v) => boundMay(facts(a), v, gt = false, orEqual = true)
    case IsNull(a) => mayHaveNulls(facts(a))
    case IsNotNull(a) => mayHaveValues(facts(a))
    case Not(EqualTo(a, v)) =>
      // unmatchable only when provably EVERY row equals v (non-null)
      !facts(a).exists(c => c.nulls.contains(0L) &&
        lo(c).exists(m => cmp(m, v).contains(0)) && hi(c).exists(m => cmp(m, v).contains(0)))
    case _ => true // unknown/complex shape: conservative rewrite
  }

  /** A file missing the column reads all-null → no value can match. */
  private def mayHaveValues(c: Option[ColFacts]): Boolean =
    c.exists(x => !x.nulls.contains(x.values))

  private def mayHaveNulls(c: Option[ColFacts]): Boolean =
    !c.exists(_.nulls.contains(0L))

  private def rangeMayContain(c: Option[ColFacts], v: Any): Boolean = {
    if (!mayHaveValues(c)) return false
    (lo(c.get), hi(c.get)) match {
      case (Some(mn), Some(mx)) =>
        (cmp(v, mn), cmp(v, mx)) match {
          case (Some(a), Some(b)) => a >= 0 && b <= 0
          case _ => true
        }
      case _ => true
    }
  }

  private def boundMay(c: Option[ColFacts], v: Any, gt: Boolean, orEqual: Boolean): Boolean = {
    if (!mayHaveValues(c)) return false
    val edge = if (gt) hi(c.get) else lo(c.get) // the row most able to satisfy
    edge match {
      case Some(e) => cmp(e, v) match {
        case Some(sign) =>
          if (gt) (sign > 0) || (orEqual && sign == 0)
          else (sign < 0) || (orEqual && sign == 0)
        case None => true
      }
      case None => true
    }
  }
}
