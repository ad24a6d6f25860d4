package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.{ColumnIOFactory, RecordReader}
import org.apache.parquet.schema.MessageType

/** The one way the engine opens a parquet file, and the one reader of
  * its footer statistics ([[facts]]).
  *
  * parquet-mr's short entry points — `ParquetFileReader.open(InputFile)`
  * and `ParquetReader.builder(readSupport, path)` — each build a fresh
  * Hadoop `Configuration`, which parses core-default/core-site XML:
  * about 6 ms per open, far more than reading a store file's footer.
  * Every open here takes its read options from the CALLER's conf (the
  * session's on the driver, the deserialized copy on an executor), so
  * no open parses a config and object-store credentials ride along.
  */
object ParquetFiles {

  private def options(conf: Configuration, path: Path, filter: FilterCompat.Filter) =
    HadoopReadOptions.builder(conf, path).withRecordFilter(filter).build()

  /** Open `path` for its footer; the caller closes the reader. */
  def open(conf: Configuration, path: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      options(conf, path, FilterCompat.NOOP))

  /** One leaf column's footer facts, merged over a file's row groups:
    * `values` counts nulls too; `nulls` is defined only when every row
    * group records it; `min`/`max` are parquet's raw statistic values
    * (boxed Long, Integer, Double, Float, Boolean or a `Binary`), merged
    * with the column's own comparator, None when no row group holds a
    * non-null value. `rangeProven`: every row group has a min/max or is
    * proven all-null, so no value lies outside them — otherwise the
    * range is unknown, whatever `min`/`max` say.
    */
  final case class ColFacts(values: Long, nulls: Option[Long],
                            min: Option[Any], max: Option[Any], rangeProven: Boolean) {
    def range: Option[(Any, Any)] = if (rangeProven) min.zip(max) else None
    def longRange: Option[(Long, Long)] = range.collect {
      case (lo: java.lang.Long, hi: java.lang.Long) => (lo.longValue, hi.longValue)
    }
  }

  /** What a file's footer says: row count, schema and, keyed by dotted
    * path, each leaf column's [[ColFacts]]. A column the file lacks has
    * no entry.
    */
  final case class FileFacts(rows: Long, schema: MessageType, cols: Map[String, ColFacts]) {
    def longRange(col: String): Option[(Long, Long)] = cols.get(col).flatMap(_.longRange)
    /** Proven free of nulls in `col` (a column the file lacks is not). */
    def nullFree(col: String): Boolean = cols.get(col).exists(_.nulls.contains(0L))
  }

  /** The footer facts of `path`: one footer read, no data pages. */
  def facts(conf: Configuration, path: Path): FileFacts = {
    val r = open(conf, path)
    try {
      val acc = scala.collection.mutable.LinkedHashMap.empty[String, ColAcc]
      var rows = 0L
      r.getFooter.getBlocks.forEach { b =>
        rows += b.getRowCount
        b.getColumns.forEach { c =>
          acc.getOrElseUpdate(c.getPath.toDotString, new ColAcc).add(c.getValueCount, c.getStatistics)
        }
      }
      FileFacts(rows, r.getFileMetaData.getSchema, acc.view.mapValues(_.result).toMap)
    } finally r.close()
  }

  /** [[facts]] of each of `paths`, the footers read in parallel on the
    * calling JVM (independent IO, no Spark job), in input order.
    */
  def factsOf(conf: Configuration, paths: Seq[Path]): Seq[FileFacts] = {
    import scala.collection.parallel.CollectionConverters._
    paths.toVector.par.map(facts(conf, _)).toVector
  }

  private final class ColAcc {
    private var values = 0L
    private var nulls = Option(0L)
    private var min, max: Any = null
    private var proven = true

    def add(valueCount: Long, st: Statistics[_]): Unit = {
      values += valueCount
      val nullsSet = st != null && st.isNumNullsSet
      nulls = if (nullsSet) nulls.map(_ + st.getNumNulls) else None
      if (st != null && st.hasNonNullValue) {
        val order = st.comparator().asInstanceOf[java.util.Comparator[Any]]
        if (min == null || order.compare(st.genericGetMin, min) < 0) min = st.genericGetMin
        if (max == null || order.compare(st.genericGetMax, max) > 0) max = st.genericGetMax
      } else if (!(nullsSet && st.getNumNulls == valueCount)) proven = false
    }

    def result: ColFacts = ColFacts(values, nulls, Option(min), Option(max), proven)
  }

  /** Open `path` once for a row-at-a-time read. The footer is read a
    * single time: `plan` sees the file's schema and returns the
    * projection to read, the filter that skips row groups and pages
    * (stats, dictionaries, blooms, page indexes), and the filter each
    * record of the surviving pages must pass, so a caller that needs
    * the schema to decide either never opens the file twice.
    */
  def records(conf: Configuration, path: Path)
             (plan: MessageType => (MessageType, FilterCompat.Filter, FilterCompat.Filter)): Records = {
    val file = HadoopInputFile.fromPath(path, conf)
    val in = file.newStream()
    try {
      val footer = ParquetFileReader.readFooter(file, options(conf, path, FilterCompat.NOOP), in)
      val fileSchema = footer.getFileMetaData.getSchema
      val (projection, prune, keep) = plan(fileSchema)
      val reader = ParquetFileReader.open(file, footer, options(conf, path, prune), in)
      reader.setRequestedSchema(projection)
      new Records(reader, fileSchema, projection, keep)
    } catch {
      case t: Throwable => in.close(); throw t
    }
  }

  /** Projected `Group` records of one open file, its row groups and
    * pages pruned and its records passed through `filter`; `schema` is
    * the projection, so field indexes of returned groups are indexes
    * into it.
    */
  final class Records private[ParquetFiles] (reader: ParquetFileReader, fileSchema: MessageType,
                                             val schema: MessageType, filter: FilterCompat.Filter)
    extends java.io.Closeable {

    private val io = new ColumnIOFactory(reader.getFileMetaData.getCreatedBy)
      .getColumnIO(schema, fileSchema, true)
    private var pages: PageReadStore = _
    private var rows: RecordReader[Group] = _
    private var left = 0L

    /** The next matching record; null at end of file. */
    def read(): Group = {
      var out: Group = null
      var eof = false
      while (out == null && !eof) {
        if (left == 0L) {
          if (pages != null) pages.close()
          pages = reader.readNextFilteredRowGroup()
          if (pages == null) eof = true
          else {
            left = pages.getRowCount
            rows = io.getRecordReader(pages, new GroupRecordConverter(schema), filter)
          }
        } else {
          left -= 1
          val g = rows.read()
          // a record the filter rejects reads as null or as skipped
          if (g != null && !rows.shouldSkipCurrentRecord()) out = g
        }
      }
      out
    }

    override def close(): Unit = {
      if (pages != null) { pages.close(); pages = null }
      reader.close()
    }
  }
}
