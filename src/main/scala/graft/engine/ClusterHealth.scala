package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cluster-sharpness accounting: the value-domain clustering (X23/X27)
  * prices rewrites and scans by per-file footer [min,max] spans, and
  * every append draws its range cuts from ITS OWN batch — correct, but
  * long-lived appended stores accumulate span OVERLAP and silently lose
  * the selectivity the cluster marker promises. This measures the drift
  * (one footer read per file, distributed) so `cat.t.clustering` can
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
    * monotonically into Double: (column, space, file, min, max).
    * Distributed — one footer read per file, no data pages. Empty when
    * the store declares no clustering or has no files.
    */
  def spans(spark: SparkSession,
            path: String): Seq[(String, String, String, Double, Double)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = EsdbWriter.dataRoot(spark, path)
    val cols = EsdbWriter.clusterOf(conf, src).cols
    if (cols.isEmpty) return Nil
    val root = new org.apache.hadoop.fs.Path(src)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Nil
    val files: Seq[(String, String)] =
      EsdbWriter.storeDataFiles(fs, root)
        .map { case (_, f, space) => (space, f.getPath.toString) }
    if (files.isEmpty) return Nil
    val wanted = cols.toSet
    val par = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    // session conf travels to the executors (object-store creds and
    // custom fs impls live there — a bare new Configuration() would
    // fail or misresolve the footer opens on any non-default FS)
    val serConf = new org.apache.spark.util.SerializableConfiguration(conf)
    import spark.implicits._
    spark.createDataset(files).repartition(par)
      .flatMap { case (space, file) =>
        val c = serConf.value
        val r = graft.sources.ParquetFiles.open(c, new org.apache.hadoop.fs.Path(file))
        try {
          val acc = scala.collection.mutable.HashMap[String, (Double, Double)]()
          r.getFooter.getBlocks.forEach { b =>
            b.getColumns.forEach { cc =>
              val name = cc.getPath.toDotString
              if (wanted.contains(name)) {
                val st = cc.getStatistics
                if (st != null && st.hasNonNullValue) {
                  for (lo <- embed(st.genericGetMin); hi <- embed(st.genericGetMax)) {
                    val prev = acc.get(name)
                    acc(name) = (prev.fold(lo)(p => math.min(p._1, lo)),
                      prev.fold(hi)(p => math.max(p._2, hi)))
                  }
                }
              }
            }
          }
          acc.toSeq.map { case (colName, (mn, mx)) => (colName, space, file, mn, mx) }
        } finally r.close()
      }
      .collect().toSeq // one small tuple per (file × cluster column)
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
