package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Footer-only aggregate pushdown for the esdb store source — the
  * DSv2 `SupportsPushDownAggregates` back end.
  *
  * `COUNT(*)`, `COUNT(col)`, `MIN(col)` and `MAX(col)` (numeric /
  * boolean / date columns), optionally grouped by `space`, are answered
  * entirely from parquet footer metadata: row-group row counts, null
  * counts, and column-chunk min/max statistics. No data page is ever
  * read — at 100 TB the cost is one footer round-trip per file,
  * distributed over the executors, while the naive plan scans every
  * row. This is the relational generalization of the reference's index
  * summary lookups (sst SSTable metadata answering "how much is here"
  * without touching event blocks, writer.go:101-130).
  *
  * Correct-by-construction rules:
  *  - eligible only when the scan carries NO row-level pruning state
  *    (no grouping equality, no ts bounds, no idx hints, no limit) —
  *    those filter rows AFTER the footer counts them;
  *  - `space` is a partition-directory constant, never stored in the
  *    files, so `COUNT(space)` is the plain row count and group-by
  *    `space` groups whole partitions;
  *  - min/max is restricted to physical INT32/INT64/FLOAT/DOUBLE/
  *    BOOLEAN columns, whose parquet statistics are exact (binary
  *    stats may be truncated, so strings never push);
  *  - a column missing from a file contributes Spark's schema-merge
  *    semantics (all-null: zero count, no min/max);
  *  - a file whose footer LACKS a required statistic fails loudly,
  *    naming the file — never a silently wrong aggregate. parquet-mr
  *    drops float/double min/max when NaN is present, so NaN data
  *    degrades to an error, not a wrong answer.
  *
  * The scan emits one partial row per partition (space); Spark plans
  * the final merge aggregation (sum of counts, min of mins) over at
  * most one row per space — `supportCompletePushDown` stays false so
  * the merge is always planned and multi-partition stores are correct.
  */
sealed trait PushedAggFunc extends Serializable { def resultType: DataType }
object PushedAggFunc {
  /** COUNT(*) — sum of row-group row counts. */
  case object CountStarF extends PushedAggFunc { val resultType: DataType = LongType }
  /** COUNT(col) — rows minus footer null counts. */
  final case class CountColF(col: String) extends PushedAggFunc { val resultType: DataType = LongType }
  final case class MinF(col: String, dt: DataType) extends PushedAggFunc { val resultType: DataType = dt }
  final case class MaxF(col: String, dt: DataType) extends PushedAggFunc { val resultType: DataType = dt }
}

final case class PushedAggSpec(groupBySpace: Boolean, funcs: Seq[PushedAggFunc]) {
  def schema: StructType = {
    val group = if (groupBySpace) Seq(StructField("space", StringType, nullable = false)) else Nil
    val aggs = funcs.zipWithIndex.map {
      case (f: PushedAggFunc.MinF, i) => StructField(s"min_${f.col}_$i", f.resultType, nullable = true)
      case (f: PushedAggFunc.MaxF, i) => StructField(s"max_${f.col}_$i", f.resultType, nullable = true)
      case (f, i) => StructField(s"count_$i", f.resultType, nullable = false)
    }
    StructType(group ++ aggs)
  }
  override def toString: String = {
    val fs = funcs.map {
      case PushedAggFunc.CountStarF => "COUNT(*)"
      case PushedAggFunc.CountColF(c) => s"COUNT($c)"
      case PushedAggFunc.MinF(c, _) => s"MIN($c)"
      case PushedAggFunc.MaxF(c, _) => s"MAX($c)"
    }.mkString(", ")
    if (groupBySpace) s"[$fs] GROUP BY space" else s"[$fs]"
  }
}

final class EsdbAggScan(path: String, spaces: Option[Seq[String]], spec: PushedAggSpec,
                        conf: org.apache.spark.util.SerializableConfiguration)
  extends Scan with Batch {

  override def readSchema(): StructType = spec.schema

  override def description(): String =
    s"EsdbStoreAgg $path spaces=${spaces.map(_.mkString(",")).getOrElse("*")} pushed=$spec"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // same per-space listing as the row scan (one partition per space
    // directory), with no row-level pruning state by construction
    val listed: Array[InputPartition] = new EsdbScan(path, spec.schema, spaces, None,
      groupingNotNull = false, TsBounds.unbounded, Nil, None).partitions.toArray
    if (listed.nonEmpty || spec.groupBySpace) listed
    else
      // a GLOBAL aggregate over an empty store must still produce one
      // partial row (count 0, null min/max): Spark's final merge is a
      // sum/min/max over the scan output, and zero rows would turn
      // COUNT(*)=0 into null
      Array(EsdbInputPartition("", Array.empty, 0L))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EsdbAggReaderFactory(spec, conf)

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new FooterReadsMetric)
}

final class EsdbAggReaderFactory(spec: PushedAggSpec,
                                 conf: org.apache.spark.util.SerializableConfiguration)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new EsdbFooterAggReader(p.asInstanceOf[EsdbInputPartition], spec, conf.value)
}

/** Emits exactly one partial-aggregate row for its partition, computed
  * from the footers of the partition's files.
  */
final class EsdbFooterAggReader(part: EsdbInputPartition, spec: PushedAggSpec,
                                conf: Configuration)
  extends PartitionReader[InternalRow] {

  import PushedAggFunc._

  private var emitted = false
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (emitted) return false
    row = compute()
    emitted = true
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()

  private var footerReads = 0L
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(EsdbMetrics.Task(EsdbMetrics.FooterReads, footerReads))

  // per-column accumulated footer facts across all files of the partition
  private final class ColAcc {
    var nonNull: Long = 0L
    var min: Any = null
    var max: Any = null
  }

  private def fail(file: String, col: String, what: String): Nothing =
    throw new IllegalStateException(
      s"aggregate pushdown needs $what for column '$col' but file $file lacks the " +
        "footer statistic — engine-written stores always carry it; refusing to return " +
        "a silently wrong aggregate over a foreign file")

  private def compute(): InternalRow = {
    val needCount = spec.funcs.collect { case CountColF(c) if c != "space" => c }.toSet
    val needRange = spec.funcs.collect {
      case MinF(c, dt) => (c, dt)
      case MaxF(c, dt) => (c, dt)
    }.toMap
    val tracked = needCount ++ needRange.keySet
    var rows = 0L
    val acc = scala.collection.mutable.Map.empty[String, ColAcc]

    part.files.foreach { file =>
      val facts = ParquetFiles.facts(conf, new Path(file))
      footerReads += 1
      rows += facts.rows
      tracked.foreach { name =>
        facts.cols.get(name).foreach { c =>
          val a = acc.getOrElseUpdate(name, new ColAcc)
          if (needCount.contains(name))
            a.nonNull += c.values - c.nulls.getOrElse(fail(file, name, "a null count"))
          needRange.get(name).foreach { dt =>
            if (!c.rangeProven) fail(file, name, "an exact min/max")
            c.min.map(internalValue).foreach { mn =>
              if (a.min == null || cmp(dt, mn, a.min) < 0) a.min = mn
            }
            c.max.map(internalValue).foreach { mx =>
              if (a.max == null || cmp(dt, mx, a.max) > 0) a.max = mx
            }
          }
        }
      }
    }

    val spc = spec.schema
    val out = new GenericInternalRow(spc.length)
    var i = 0
    if (spec.groupBySpace) { out.update(0, UTF8String.fromString(part.space)); i = 1 }
    spec.funcs.foreach { f =>
      f match {
        case CountStarF => out.update(i, rows)
        case CountColF("space") => out.update(i, rows) // partition constant, never null
        case CountColF(c) => out.update(i, acc.get(c).map(_.nonNull).getOrElse(0L))
        case MinF(c, dt) => out.update(i, convert(acc.get(c).map(_.min).orNull, dt))
        case MaxF(c, dt) => out.update(i, convert(acc.get(c).map(_.max).orNull, dt))
      }
      i += 1
    }
    out
  }

  /** Boxed footer statistic → canonical comparable (Long/Int/Double/Float/Boolean). */
  private def internalValue(v: Any): Any = v match {
    case l: java.lang.Long => l.longValue()
    case n: java.lang.Integer => n.intValue()
    case d: java.lang.Double => d.doubleValue()
    case f: java.lang.Float => f.floatValue()
    case b: java.lang.Boolean => b.booleanValue()
    case other => throw new IllegalStateException(s"unexpected footer statistic type ${other.getClass}")
  }

  private def cmp(dt: DataType, a: Any, b: Any): Int = dt match {
    case LongType => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType | DateType | ShortType | ByteType =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case DoubleType => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case FloatType => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case BooleanType => java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case other => throw new IllegalStateException(s"unorderable pushed-agg type $other")
  }

  /** Canonical comparable → Spark internal representation for `dt`. */
  private def convert(v: Any, dt: DataType): Any =
    if (v == null) null
    else dt match {
      case ShortType => v.asInstanceOf[Int].toShort
      case ByteType => v.asInstanceOf[Int].toByte
      case _ => v
    }
}
