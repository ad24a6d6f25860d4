package graft.sources

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/** DSv2 custom metrics for the ordered sources, surfaced per-scan in
  * the Spark UI (SQL tab node details) — the observability a real
  * engine owes its operators: how many files a merge actually opened
  * (vs pruned), how many rows it pulled off parquet (vs emitted —
  * the gap is record-filter + bound-skip work), and whether the
  * reference-Scanner-style early exit fired (space.go:14 — the whole
  * point of the ts-desc layout).
  */
object EsdbMetrics {
  final val FilesOpened = "esdbFilesOpened"
  final val RowsMerged = "esdbRowsMerged"
  final val EarlyExits = "esdbEarlyExits"
  final val FooterReads = "esdbFooterReads"

  def supported: Array[CustomMetric] =
    Array(new FilesOpenedMetric, new RowsMergedMetric, new EarlyExitsMetric)

  final case class Task(override val name: String, override val value: Long)
    extends CustomTaskMetric
}

final class FilesOpenedMetric extends CustomSumMetric {
  override def name(): String = EsdbMetrics.FilesOpened
  override def description(): String = "store files opened (post listing/manifest pruning)"
}

final class RowsMergedMetric extends CustomSumMetric {
  override def name(): String = EsdbMetrics.RowsMerged
  override def description(): String = "rows pulled off parquet by the ordered readers"
}

final class EarlyExitsMetric extends CustomSumMetric {
  override def name(): String = EsdbMetrics.EarlyExits
  override def description(): String = "readers stopped before EOF (ts bound / pushed top-N)"
}

final class FooterReadsMetric extends CustomSumMetric {
  override def name(): String = EsdbMetrics.FooterReads
  override def description(): String = "parquet footers read by the footer-only aggregate scan"
}
