package graft.engine

import org.apache.spark.sql.SparkSession

/** Cluster-sharpness accounting: the value-domain clustering (X23/X27)
  * prices rewrites and scans by per-file footer [min,max] spans, and
  * every append draws its range cuts from ITS OWN batch — correct, but
  * long-lived appended stores accumulate span OVERLAP and silently lose
  * the selectivity the cluster marker promises. This measures the drift
  * (one footer read per file, on the driver) so `cat.t.clustering` can
  * report it and [[Maintenance.maintain]] can repair it with a
  * re-clustering full compaction when it degrades past the declared
  * policy threshold.
  *
  * The metric per declared cluster column is the EXPECTED FILES PER
  * POINT LOOKUP, measured WITHIN each space and averaged across spaces
  * weighted by file count: each file's span width over its space's
  * domain is the probability a uniform point predicate must open that
  * file, so per space `Σ widths / domain` is the files a point lookup
  * opens there on average. The per-space framing matters because a
  * clustered write legitimately produces one file per (chunk × space) —
  * so a FRESH clustering scores ≈ 1 regardless of space count, and
  * every full-domain append adds ≈ 1 to every space's score. The
  * factor is scale-free (independent of file count, space count, and
  * domain units), which is what lets one policy threshold cover stores
  * of any size.
  */
object ClusterHealth {

  /** One column's sharpness: how many files with usable stats, and the
    * expected files opened by a uniform point lookup on the column
    * (1.0 = perfectly disjoint tiling; `files` = every file spans the
    * whole domain).
    */
  final case class ColSharpness(column: String, files: Int, overlap: Double,
                                domainMin: Double, domainMax: Double)

  /** Per-file spans of the store's DECLARED cluster columns, embedded
    * monotonically into Double: (column, space, file, min, max). One
    * footer read per file, in parallel on the driver
    * ([[graft.sources.ParquetFiles.factsOf]]), no data pages and no
    * Spark job; a file whose range on a column is unproven has no span
    * there. Empty when the store declares no clustering or has no files.
    */
  def spans(spark: SparkSession,
            path: String): Seq[(String, String, String, Double, Double)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = EsdbWriter.dataRoot(spark, path)
    val cols = EsdbWriter.clusterOf(conf, src).cols.distinct
    if (cols.isEmpty) return Nil
    val root = new org.apache.hadoop.fs.Path(src)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Nil
    val files = EsdbWriter.storeDataFiles(fs, root)
    files.zip(graft.sources.ParquetFiles.factsOf(conf, files.map(_._2.getPath)))
      .flatMap { case ((_, st, space), facts) =>
        cols.flatMap { c =>
          for {
            (lo, hi) <- facts.cols.get(c).flatMap(_.range)
            l <- embed(lo)
            h <- embed(hi)
          } yield (c, space, st.getPath.toString, l, h)
        }
      }
  }

  /** Sharpness per declared cluster column (see class doc for the
    * metric). Empty when unclustered or empty.
    */
  def sharpness(spark: SparkSession, path: String): Seq[ColSharpness] =
    spans(spark, path).groupBy(_._1).toSeq.sortBy(_._1).map { case (colName, ss) =>
      val perSpace = ss.groupBy(_._2).values.toSeq.map { sp =>
        val lo = sp.map(_._4).min
        val hi = sp.map(_._5).max
        val domain = hi - lo
        val ratio =
          if (sp.size <= 1) 1.0
          else if (domain <= 0) sp.size.toDouble // one point: every lookup opens all
          else math.max(1.0, sp.map(s => s._5 - s._4).sum / domain)
        (sp.size, ratio)
      }
      val files = perSpace.map(_._1).sum
      // files-weighted mean of the per-space ratios
      val overlap = perSpace.map { case (n, r) => n * r }.sum / math.max(1, files)
      ColSharpness(colName, files, overlap, ss.map(_._4).min, ss.map(_._5).max)
    }

  /** Worst (largest) overlap factor across the declared cluster
    * columns; None when the store is unclustered or has ≤1 file.
    */
  def worstOverlap(spark: SparkSession, path: String): Option[Double] = {
    val s = sharpness(spark, path)
    if (s.isEmpty || s.forall(_.files <= 1)) None else Some(s.map(_.overlap).max)
  }

  /** Monotone embedding of a parquet footer statistic into Double —
    * only ORDER matters (widths are compared to the same embedding's
    * domain), so lossy magnitude is fine; None = a type stats can't
    * order usefully (span treated as unknown, file skipped).
    * Strings embed by their first 7 bytes as an unsigned big-endian
    * integer (the same prefix idea as the zorder string key;
    * truncated parquet stats only widen spans, never shrink them).
    */
  private def embed(v: Any): Option[Double] = v match {
    case null => None
    case b: java.lang.Boolean => Some(if (b) 1.0 else 0.0)
    case b: org.apache.parquet.io.api.Binary =>
      val bytes = b.getBytes
      var acc = 0.0
      var i = 0
      while (i < 7) {
        acc = acc * 256.0 + (if (i < bytes.length) (bytes(i) & 0xff).toDouble else 0.0)
        i += 1
      }
      Some(acc)
    case n: java.lang.Number => Some(n.doubleValue())
    case _ => None
  }
}
