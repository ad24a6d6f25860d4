package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Write path: the Spark-native equivalent of the reference's
  * write-once `.esdb` file (writer.go) and sealable append log
  * (stream/open_stream.go).
  *
  * Layout choices mirror the reference's physical design at
  * Spark/parquet granularity (SURVEY.md §3.2):
  *  - `partitionBy("space")` — one directory per space ≡ the file-level
  *    SSTable mapping space → byte extent (writer.go:101-130); gives
  *    partition pruning on `space ==` predicates.
  *  - `repartition($"space")` — all of one space's events in one task ≡
  *    the per-space contiguous extent; at cluster scale this is the
  *    only shuffle in the write.
  *  - `sortWithinPartitions(grouping, ts_us desc, event_id)` — events of
  *    a grouping contiguous and ts-descending in file order ≡ the
  *    grouped, stable ts-desc block layout (space_writer.go:104-130,
  *    event_block_writer.go:14-34). Parquet row-group min/max stats on
  *    (grouping, ts_us) then replace the space-level SSTable for data
  *    skipping.
  *  - snappy-compressed parquet ≡ the 4KB snappy block codec
  *    (blocks/writer.go:70-108) — built-in.
  *  - `SaveMode.ErrorIfExists` ≡ O_EXCL create (writer.go:27) and the
  *    re-Add-after-Write error (writer.go:44-46): immutability is the
  *    format's contract.
  */
object EsdbWriter {

  val SealMarker = "_CLOSED"
  val GroupingsManifest = "_MANIFEST.groupings"
  val LogManifest = "_MANIFEST.log"
  val TsRangeManifest = "_MANIFEST.tsrange"
  val SubpartsMarker = "_SUBPARTS"
  val SchemaManifest = "_MANIFEST.schema"
  val ClusterMarker = "_CLUSTER"

  /** Safe numeric widening: the wider of the two when both sit on the
    * same lossless chain (int→long, float→double), None otherwise.
    * Widening is METADATA-ONLY — the sidecar records the wider type and
    * every reader up-casts old files at scan time (the merge readers
    * decode by physical type; Spark's parquet reader applies the same
    * promotions when handed the wider read schema).
    */
  def widenType(a: org.apache.spark.sql.types.DataType,
                b: org.apache.spark.sql.types.DataType): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    (a, b) match {
      case _ if a == b => Some(a)
      case (IntegerType, LongType) | (LongType, IntegerType) => Some(LongType)
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case _ => None
    }
  }

  /** Schema evolution: union by NAME; adding columns and SAFE numeric
    * widenings ([[widenType]]) are accepted — new columns read as null
    * from files written before them, widened columns up-cast at scan
    * time. Any other type change (narrowing, string↔number, renames)
    * would silently corrupt already-written files — refuse loudly
    * BEFORE data lands.
    */
  def unionSchemas(base: org.apache.spark.sql.types.StructType,
                   add: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val baseNames = base.fieldNames.toSet
    val merged = base.map { f =>
      add.find(_.name == f.name) match {
        case Some(g) => widenType(f.dataType, g.dataType) match {
          case Some(t) => f.copy(dataType = t, nullable = f.nullable || g.nullable)
          case None => throw new IllegalStateException(
            s"schema evolution conflict on column '${f.name}': stored " +
              s"${f.dataType.simpleString} vs batch ${g.dataType.simpleString} — " +
              "adding columns and widening int->long / float->double are supported; " +
              "any other type change is not")
        }
        case None => f
      }
    }
    org.apache.spark.sql.types.StructType(
      merged ++ add.filterNot(f => baseNames.contains(f.name)))
  }

  /** Write-time schema sidecar: ONE small object holds the store's
    * merged logical schema, so table load costs one read instead of a
    * footer sweep (at 100 TB, "what columns does this store have" must
    * not be a job over 100k file footers). Created at write(), unioned
    * on every append; legacy stores without one fall back to Spark's
    * `mergeSchema` footer inference — correct, just not O(1).
    */
  def writeSchemaManifest(conf: org.apache.hadoop.conf.Configuration, root: String,
                          schema: org.apache.spark.sql.types.StructType): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, SchemaManifest)
    // every column is nullable AS STORED: files written before a column
    // was added (or by a batch that omitted it) read null for it — a
    // non-nullable field in a read schema makes codegen skip the null
    // check and surface garbage instead (0.0 where null belongs)
    val nullable = org.apache.spark.sql.types.StructType(
      schema.map(_.copy(nullable = true)))
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(nullable.json.getBytes("UTF-8")) finally out.close()
  }

  def schemaManifest(conf: org.apache.hadoop.conf.Configuration,
                     root: String): Option[org.apache.spark.sql.types.StructType] = {
    val p = new org.apache.hadoop.fs.Path(root, SchemaManifest)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
          buf.toByteArray
        } finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(new String(bytes, "UTF-8"))
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** Extend an existing sidecar with an appended batch's columns; a
    * legacy store without a sidecar stays on merged-footer inference
    * (writing just the batch schema would under-report the store).
    */
  def mergeSchemaManifest(conf: org.apache.hadoop.conf.Configuration, root: String,
                          batch: org.apache.spark.sql.types.StructType): Unit =
    schemaManifest(conf, root).foreach(base =>
      writeSchemaManifest(conf, root, unionSchemas(base, batch)))

  /** Columns the layout or the event model owns: never renamed or
    * dropped (the canonical scan/index surface addresses them by name).
    */
  private val ProtectedCols =
    Set("space", "grouping", "ts_us", "event_id", "value", "payload", "bucket")

  /** Sidecar with IDs, or a loud refusal naming the upgrade path. */
  private def idedManifest(conf: org.apache.hadoop.conf.Configuration, root: String,
                           op: String): org.apache.spark.sql.types.StructType = {
    val lm = new org.apache.hadoop.fs.Path(root, LogManifest)
    if (lm.getFileSystem(conf).exists(lm)) throw new UnsupportedOperationException(
      s"$op: rename/drop evolution covers ordered stores; log stores are " +
        "append-optimized row logs — rewrite via compactLog if a column must go")
    val s = schemaManifest(conf, root).getOrElse(throw new IllegalStateException(
      s"$op needs the schema sidecar — this store predates it; compact once to create it"))
    if (!FieldIds.hasIds(s)) throw new IllegalStateException(
      s"$op needs parquet field IDs in every column — this store predates them; " +
        "compact once to stamp IDs into the sidecar and every data file")
    s
  }

  /** Metadata-only column RENAME: the sidecar field keeps its parquet
    * field ID under the new name, and every reader (Spark's parquet
    * path via `fieldId.read`, the merge readers via their ID fallback)
    * resolves old files by ID — no file is touched. Canonical/layout
    * columns refuse: the scan and index surface addresses them by name.
    */
  def renameColumn(spark: SparkSession, path: String, from: String, to: String): Unit = {
    require(!isSealed(path), s"store at $path is sealed (immutable; no schema changes)")
    require(!ProtectedCols(from) && !from.startsWith("idx_"),
      s"cannot rename '$from': canonical/layout/index columns are addressed by name")
    require(!ProtectedCols(to) && !to.startsWith("idx_") && !to.startsWith("__dropped_"),
      s"cannot rename to reserved name '$to'")
    val conf = hconf(spark)
    val root = dataRoot(spark, path)
    val s = idedManifest(conf, root, s"RENAME COLUMN $from")
    require(FieldIds.active(s).fieldNames.contains(from), s"no such column '$from'")
    require(!FieldIds.active(s).fieldNames.contains(to), s"column '$to' already exists")
    writeSchemaManifest(conf, root, org.apache.spark.sql.types.StructType(
      s.fields.map(f => if (f.name == from && !FieldIds.isDropped(f)) f.copy(name = to) else f).toSeq))
  }

  /** Metadata-only column DROP: the field TOMBSTONES in the sidecar
    * (unique `__dropped_<id>` name, dropped flag, ID retained) rather
    * than disappearing — readers hide it immediately, but its ID stays
    * occupied so a later re-add of the same name allocates a fresh ID
    * and can never resurrect dropped data from still-carried files.
    * The next full compaction physically removes the column.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Unit = {
    require(!isSealed(path), s"store at $path is sealed (immutable; no schema changes)")
    require(!ProtectedCols(name),
      s"cannot drop '$name': canonical/layout columns are the store's event model")
    val conf = hconf(spark)
    val root = dataRoot(spark, path)
    val s = idedManifest(conf, root, s"DROP COLUMN $name")
    require(FieldIds.active(s).fieldNames.contains(name), s"no such column '$name'")
    writeSchemaManifest(conf, root, org.apache.spark.sql.types.StructType(
      s.fields.map(f => if (f.name == name && !FieldIds.isDropped(f)) FieldIds.tombstone(f) else f).toSeq))
  }

  /** The one place the store's physical order is decided: repartition
    * to the layout's write tasks and sort each task (space[, bucket],
    * grouping, ts desc, id) — the sort MUST lead with the partition
    * columns (FileFormatWriter silently re-sorts non-conforming input
    * by the partition columns alone, scrambling the layout). Used by
    * both write() and append() so create and append can never diverge.
    */
  private def partitionForWrite(indexed: DataFrame, subparts: Int,
                                cluster: Clustering = Clustering.none): (DataFrame, Seq[String]) = {
    val Clustering(clusterCols, clusterChunks, clusterCurve) = cluster
    // Value-domain clustering is ACROSS files, never within: rows
    // range-partition on (space[, bucket], clusterCols) so each output
    // file's footer min/max on the declared columns covers a narrow,
    // near-disjoint slice of the domain — predicate DELETE/UPDATE stats
    // classification ([[DeleteWhere.fileMayMatch]]) and attr-predicate
    // scans then prune proportionally to selectivity instead of
    // touching every file. INSIDE each file the (grouping, ts-desc,
    // event_id) sort is unchanged, so the Sort-free ordered merge
    // invariant holds — clustered files merge exactly like append
    // batches do. The reference analog is the SSTable's key-ordered
    // blocks making point predicates sub-linear (sst/writer.go:48-50).
    def ranged(df: DataFrame, keys: Seq[org.apache.spark.sql.Column]): DataFrame =
      if (clusterCols.isEmpty) df.repartition(keys: _*)
      else {
        val curveCols =
          if (clusterCurve == "zorder") {
            // keep only the ceil(log2 chunks) LEADING bits of the
            // z-value: chunk boundaries then land exactly on Z-blocks
            // (axis-aligned rank rectangles) instead of wherever the
            // row-count quantiles happen to cut the curve — the
            // difference between "each file is a rectangle of the
            // domain" and "boundary files straddle two rectangles"
            val totalBits = ZorderBits * clusterCols.size
            val keepBits = 32 - Integer.numberOfLeadingZeros(math.max(1, clusterChunks) - 1)
            Seq(shiftright(zorderColumn(df, clusterCols),
              math.max(0, totalBits - keepBits)))
          }
          else clusterCols.map(col)
        df.repartitionByRange(math.max(1, clusterChunks), keys ++ curveCols: _*)
      }
    if (subparts == 1)
      (ranged(indexed, Seq(col("space")))
        .sortWithinPartitions(col("space"), col("grouping"), col("ts_us").desc, col("event_id").asc),
        Seq("space"))
    else
      (ranged(indexed.withColumn("bucket", pmod(xxhash64(col("grouping")), lit(subparts.toLong))),
          Seq(col("space"), col("bucket")))
        .sortWithinPartitions(col("space"), col("bucket"), col("grouping"),
          col("ts_us").desc, col("event_id").asc),
        Seq("space", "bucket"))
  }

  /** Data files under a space directory, one bucket level deep:
    * direct files plus `bucket=*` subdir files, as
    * (path-relative-to-the-space-dir's-parent, FileStatus) pairs —
    * e.g. ("space=X/part-…", st) or ("space=X/bucket=3/part-…", st).
    */
  def relativeDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        spaceDir: org.apache.hadoop.fs.Path):
      Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    def isData(f: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = f.getPath.getName
      f.isFile && f.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
    }
    val sp = spaceDir.getName
    fs.listStatus(spaceDir).toSeq.flatMap { c =>
      if (isData(c)) Seq(s"$sp/${c.getPath.getName}" -> c)
      else if (c.isDirectory && c.getPath.getName.startsWith("bucket="))
        fs.listStatus(c.getPath).toSeq.filter(isData)
          .map(f => s"$sp/${c.getPath.getName}/${f.getPath.getName}" -> f)
      else Nil
    }
  }

  /** Bucket a grouping hashes into under `n`-way subpartitioning —
    * `pmod(xxhash64(grouping), n)` exactly (seed 42, Spark's default),
    * so the write side (a Column) and the read side (driver pruning)
    * always agree.
    */
  def bucketOf(grouping: String, n: Int): Int =
    math.floorMod(graft.ops.DedupKernels.hashStr(grouping), n.toLong).toInt

  /** Subpartition count of a store VERSION (1 = flat layout). Fixed
    * per version: appends and partial rewrites reuse it, so within a
    * version every grouping's events stay in ONE bucket and grouping-
    * pinned reads may prune to it. A FULL [[compact]] may change the
    * count (it re-hashes every row anyway) — layout evolution for a
    * store that outgrew its creation-time granularity.
    */
  def subpartsOf(conf: org.apache.hadoop.conf.Configuration, root: String): Int = {
    val m = new org.apache.hadoop.fs.Path(root, SubpartsMarker)
    val fs = m.getFileSystem(conf)
    if (!fs.exists(m)) 1
    else {
      val in = fs.open(m)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim.toInt
      finally in.close()
    }
  }

  /** Value-domain clustering declaration: columns, chunk count, and the
    * space-filling CURVE files range-partition along —
    *  - `range` (default): lexicographic `repartitionByRange` on the
    *    declared columns. The FIRST column's per-file min/max is
    *    narrow; later columns only prune within a leading-column tie.
    *  - `zorder`: files range-partition on the bit-interleaved
    *    quantile ranks of ALL declared columns, so EVERY column's
    *    per-file min/max is narrow — balanced multi-predicate pruning
    *    (the classic Z-order layout), at the price of each single
    *    column pruning a bit less sharply than it would leading a
    *    range curve. Numeric columns only (2-4 of them).
    * Pruning needs no reader or stats changes either way: footer
    * min/max per column is what [[DeleteWhere.fileMayMatch]] and the
    * scan-level stats pruning already consume.
    */
  final case class Clustering(cols: Seq[String], chunks: Int, curve: String = "range") {
    def isEmpty: Boolean = cols.isEmpty
    def nonEmpty: Boolean = cols.nonEmpty
  }
  object Clustering {
    val none: Clustering = Clustering(Nil, 0)
    val Curves = Set("range", "zorder")
  }

  /** Value-domain clustering a store was created with ([[Clustering.none]]
    * for an unclustered store). Fixed at creation
    * like [[subpartsOf]]: appends, compaction, and copy-on-write
    * rewrites all re-cluster on the same declaration, so the footer
    * min/max disjointness that prices predicate DELETE/UPDATE by
    * selectivity is a durable property of the store, not of one write.
    */
  def clusterOf(conf: org.apache.hadoop.conf.Configuration,
                root: String): Clustering = {
    val m = new org.apache.hadoop.fs.Path(root, ClusterMarker)
    val fs = m.getFileSystem(conf)
    if (!fs.exists(m)) Clustering.none
    else {
      val in = fs.open(m)
      val txt = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
      finally in.close()
      def cols(s: String) = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      txt.split("\n").toList match {
        // pre-r11 two-line markers are range-curve by construction
        case chunks :: cs :: Nil if chunks.trim.forall(_.isDigit) && chunks.trim.nonEmpty =>
          Clustering(cols(cs), chunks.trim.toInt)
        case chunks :: cs :: curve :: Nil if chunks.trim.forall(_.isDigit) &&
            chunks.trim.nonEmpty && Clustering.Curves(curve.trim) =>
          Clustering(cols(cs), chunks.trim.toInt, curve.trim)
        case _ =>
          // a corrupt marker must FAIL, not silently decluster: falling
          // back to unclustered would quietly degrade the store's durable
          // clustering property on every subsequent append/rewrite
          throw new IllegalStateException(
            s"unparseable cluster marker at $m — expected '<chunks>\\n<col,…>[\\n<curve>]', " +
              s"got ${txt.take(80).replace("\n", "\\n")}")
      }
    }
  }

  private def writeClusterMarker(conf: org.apache.hadoop.conf.Configuration,
                                 root: String, cluster: Clustering): Unit =
    if (cluster.nonEmpty) {
      val m = new org.apache.hadoop.fs.Path(root, ClusterMarker)
      val out = m.getFileSystem(conf).create(m, true)
      try out.write(
        s"${cluster.chunks}\n${cluster.cols.mkString(",")}\n${cluster.curve}".getBytes("UTF-8"))
      finally out.close()
    }

  /** Chunk count for a rewrite of a SUBSET of a clustered store: the
    * declared count scaled by the subset's byte share, so a rewrite
    * touching one file of fifty emits ~one file, not `chunks` slivers.
    */
  private def clusterChunksFor(cluster: Clustering,
                               subsetBytes: Long, totalBytes: Long): Clustering =
    if (cluster.isEmpty || totalBytes <= 0L) cluster
    else cluster.copy(chunks = math.max(1, math.ceil(
      cluster.chunks.toDouble * subsetBytes / totalBytes).toInt))

  /** The Z-value column: each clustering column quantile-ranks into 64
    * buckets (cuts from THIS batch — pruning needs only relative rank,
    * so domain drift across appends costs sharpness, never correctness)
    * and the ranks' bits interleave into one integer the writer
    * range-partitions on. One `approxQuantile` job over all columns;
    * the per-row rank is a codegen'd 63-element array scan.
    */
  private val ZorderBits = 6 // 64 ranks per column

  /** Order-preserving numeric key for a Z-order column — the ranking
    * only needs RELATIVE order, so any monotone embedding into double
    * works: numerics cast; timestamps/dates rank by their epoch value;
    * strings by their first 6 UTF-8 bytes read as a 48-bit big-endian
    * integer (exact in a double; byte order IS Spark's string order, so
    * the embedding is monotone — ties beyond the prefix cost pruning
    * sharpness on long shared prefixes, never correctness).
    */
  private def zorderKey(df: DataFrame, c: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case _: NumericType => col(c).cast("double")
      case TimestampType => unix_micros(col(c)).cast("double")
      case TimestampNTZType => unix_micros(col(c).cast(TimestampType)).cast("double")
      case DateType => unix_date(col(c)).cast("double")
      case BooleanType => col(c).cast("int").cast("double")
      case StringType => zorderStringKey(col(c))
      case other => throw new IllegalArgumentException(
        s"zorder clustering cannot rank column '$c' of type ${other.simpleString}")
    }
  }

  /** The string embedding, exposed for the monotonicity property test:
    * first 6 UTF-8 bytes as a 48-bit big-endian integer in a double
    * (exact below 2^53). Byte order IS Spark's string comparison
    * order, so e(a) < e(b) ⇒ a < b, and a < b ⇒ e(a) ≤ e(b) with
    * equality only on a shared ZERO-PADDED 6-byte prefix (the padding
    * conflates a short string with its NUL-extended forms — a tie,
    * never an inversion, so pruning stays sound).
    */
  private[graft] def zorderStringKey(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(rpad(hex(substring(encode(c, "UTF-8"), 1, 6)), 12, "0"), 16, 10).cast("double")

  private[engine] def zorderRankable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | TimestampType | TimestampNTZType | DateType |
           BooleanType | StringType => true
      case _ => false
    }
  }

  private def zorderColumn(df: DataFrame, cols: Seq[String]): org.apache.spark.sql.Column = {
    val Bits = ZorderBits
    val n = cols.size
    val probs = (1 until (1 << Bits)).map(_.toDouble / (1 << Bits)).toArray
    // approxQuantile is numeric-only: quantile the monotone keys, rank
    // rows by the same key expressions — one job over all columns
    val keyed = df.select(cols.zipWithIndex.map { case (c, i) =>
      zorderKey(df, c).as(s"_zk$i") }.toSeq: _*)
    val cuts = keyed.stat.approxQuantile(cols.indices.map(i => s"_zk$i").toArray, probs, 0.01)
    val ranks: Seq[org.apache.spark.sql.Column] = cols.zip(cuts).map { case (c, cut) =>
      val distinctCuts = cut.distinct.sorted
      if (distinctCuts.isEmpty) lit(0) // all-null or constant column
      else {
        val raw = size(filter(typedLit(distinctCuts.toSeq),
          b => b <= coalesce(zorderKey(df, c), lit(Double.NegativeInfinity))))
        // a low-cardinality column yields < 63 distinct cuts and raw
        // ranks 0..d — stretch them over the full 6-bit code space or
        // the top Z-blocks sit empty and chunks collapse unevenly
        val d = distinctCuts.size
        if (d >= (1 << Bits) - 1) raw
        else (raw * lit((1 << Bits) - 1) / lit(d)).cast("int")
      }
    }
    (for { b <- 0 until Bits; (r, i) <- ranks.zipWithIndex } yield
      shiftleft(shiftright(r, b).bitwiseAND(lit(1)), b * n + i))
      .reduce(_ + _)
  }

  /** Write a canonical [[EventFrame]] as an immutable store.
    *
    * `indexAttrs` is the write-time analog of the reference's secondary
    * index construction (space_writer.go:47-49 builds `"i"+name+":"+
    * value` location lists while writing): each named payload attr is
    * materialized as a real `idx_<name>` column, so index-scan
    * predicates hit parquet column stats / dictionary filters instead
    * of parsing JSON per row per scan. Readers fall back to JSON
    * extraction for attrs that were not declared at write time —
    * exactly the reference's behavior (no index → full scan).
    */
  /** `subparts > 1` subpartitions every space into that many
    * grouping-hash buckets (`space=X/bucket=B/`) — the documented hot-
    * space lever: write parallelism becomes spaces × buckets instead
    * of one task per space, and since a grouping's bucket is a pure
    * hash, grouping-pinned reads prune to 1/subparts of the space.
    * The count is recorded in a per-version `_SUBPARTS` marker; appends
    * and partial rewrites reuse it, and a full [[compact]] may change
    * it (see [[subpartsOf]]).
    *
    * Job shape: the data write (one shuffle to the layout's tasks, one
    * write job), then [[writeSidecars]] once — one footer job over the
    * written files for the ts-range rows and one distinct query over
    * the staged files' (space, grouping) columns, read with the schema
    * sidecar the data write just laid down (no inference job).
    */
  def write(ev: DataFrame, path: String, indexAttrs: Seq[String] = Nil,
            subparts: Int = 1, clusterBy: Seq[String] = Nil,
            clusterChunks: Int = 8, assignFieldIds: Boolean = true,
            clusterCurve: String = "range"): Unit = {
    writeData(ev, path, indexAttrs, subparts, clusterBy, clusterChunks, assignFieldIds, clusterCurve)
    writeSidecars(ev.sparkSession, path, Created)
  }

  /** The data half of [[write]]: lay the files out, then the layout
    * markers and the schema sidecar. Copy-on-write paths call it
    * directly and build their sidecars once, from the staged version.
    */
  private def writeData(ev: DataFrame, path: String, indexAttrs: Seq[String],
                        subparts: Int, clusterBy: Seq[String], clusterChunks: Int,
                        assignFieldIds: Boolean, clusterCurve: String): Unit = {
    require(subparts >= 1, s"subparts must be >= 1, got $subparts")
    require(Clustering.Curves(clusterCurve),
      s"unknown cluster curve '$clusterCurve' — ${Clustering.Curves.mkString(" or ")}")
    if (clusterBy.nonEmpty) {
      require(clusterChunks >= 1, s"clusterChunks must be >= 1, got $clusterChunks")
      val bad = clusterBy.filterNot(ev.columns.contains)
      require(bad.isEmpty, s"clusterBy column(s) not in the frame: ${bad.mkString(", ")}")
      val layout = clusterBy.filter(c => c == "space" || c == "bucket")
      require(layout.isEmpty,
        s"clusterBy on layout column(s) ${layout.mkString(", ")}: the layout already partitions on them")
      if (clusterCurve == "zorder") {
        require(clusterBy.size >= 2 && clusterBy.size <= 4,
          "zorder clustering takes 2-4 columns (one column wants the default range curve)")
        val unrankable = clusterBy.filterNot(c => zorderRankable(ev.schema(c).dataType))
        require(unrankable.isEmpty,
          "zorder clustering ranks numeric, string, timestamp, date and boolean " +
            s"columns; unsupported: ${unrankable.mkString(", ")}")
      }
    }
    val indexed0 = indexAttrs.foldLeft(ev) { (df, name) =>
      df.withColumn(s"idx_$name", EventFrame.attr(name))
    }
    // field IDs for metadata-only rename/drop ([[FieldIds]]): store
    // creation and full compaction stamp every column (assign fills
    // missing IDs); rewrite paths that CARRY files pass
    // assignFieldIds=false and keep whatever the frame already has, so
    // "sidecar has IDs" always implies "every file is stamped"
    val idSchema = if (assignFieldIds) FieldIds.assign(indexed0.schema) else indexed0.schema
    val indexed = FieldIds.decorate(indexed0, idSchema)
    // bloom-filter every index column, both newly-derived and already-
    // materialized ones (rewrites/compaction carry idx_* columns in)
    val idxCols = indexed.columns.filter(_.startsWith("idx_")).map(_.drop(4)).toSeq
    val (parted, partCols) = partitionForWrite(indexed, subparts,
      if (clusterBy.isEmpty) Clustering.none else Clustering(clusterBy, clusterChunks, clusterCurve))
    val writer = parted.write
      .mode(SaveMode.ErrorIfExists)
      .partitionBy(partCols: _*)
    // parquet bloom filters on the secondary-index columns: min/max
    // stats can't skip row groups for high-cardinality point lookups
    // (values interleave across the sort order), blooms can — this is
    // the storage-level analog of the reference's per-index location
    // lists (space_writer.go:47-49), built by parquet instead of us
    idxCols.foldLeft(writer) { (w, name) =>
      w.option(s"parquet.bloom.filter.enabled#idx_$name", "true")
    }.parquet(path)
    if (subparts > 1) {
      val m = new org.apache.hadoop.fs.Path(path, SubpartsMarker)
      val out = m.getFileSystem(hconf(ev.sparkSession)).create(m, true)
      try out.write(subparts.toString.getBytes("UTF-8")) finally out.close()
    }
    writeClusterMarker(hconf(ev.sparkSession), path,
      if (clusterBy.isEmpty) Clustering.none else Clustering(clusterBy, clusterChunks, clusterCurve))
    writeSchemaManifest(hconf(ev.sparkSession), path, indexed.schema)
  }

  /** The data write of a copy-on-write rewrite: `rows` laid out under
    * the prior version's subpartitioning and clustering, the chunk
    * count scaled to the rewritten byte share ([[clusterChunksFor]]),
    * and no fresh field IDs stamped (carried files keep theirs).
    */
  private def rewriteData(rows: DataFrame, tmp: String, src: String,
                          subsetBytes: Long, totalBytes: Long): Unit = {
    val conf = hconf(rows.sparkSession)
    val cl = clusterChunksFor(clusterOf(conf, src), subsetBytes, totalBytes)
    writeData(if (rows.columns.contains("bucket")) rows.drop("bucket") else rows, tmp, Nil,
      subpartsOf(conf, src), cl.cols, math.max(1, cl.chunks), assignFieldIds = false, cl.curve)
  }

  /** A rewrite that writes no rows still stages a version: the prior
    * version's layout markers travel with it.
    */
  private def copyLayoutMarkers(fs: org.apache.hadoop.fs.FileSystem,
                                conf: org.apache.hadoop.conf.Configuration,
                                src: String, tmp: String): Unit = {
    fs.mkdirs(new org.apache.hadoop.fs.Path(tmp))
    Seq(SubpartsMarker, ClusterMarker).foreach { name =>
      val m = new org.apache.hadoop.fs.Path(src, name)
      if (fs.exists(m))
        org.apache.hadoop.fs.FileUtil.copy(fs, m, fs,
          new org.apache.hadoop.fs.Path(tmp, name), false, conf): Unit
    }
  }

  /** Hadoop conf for path resolution (object-store creds etc. travel
    * with the session's conf).
    */
  private def hconf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration

  /** Full-width read of data files under `root` with the store's
    * AUTHORITATIVE schema: the sidecar when present — a widened store
    * (int→long / float→double evolution) cannot mergeSchema-infer at
    * all (Spark's footer merge refuses INT vs BIGINT), while the
    * sidecar's wider type makes the parquet reader up-cast old files —
    * else mergeSchema inference (legacy store, no sidecar).
    */
  private def readFullWidth(spark: SparkSession, root: String,
                            files: Seq[String] = Nil): DataFrame = {
    val conf = hconf(spark)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    // a manifest-carrying version serves files OUTSIDE its own dir: a
    // bare directory read would miss them, so enumerate the logical set
    val effFiles: Seq[String] =
      if (files.nonEmpty) files
      else if (fs.exists(new org.apache.hadoop.fs.Path(rootPath, Carry.ManifestFile)))
        Carry.dataFiles(fs, rootPath).map(_._2.getPath.toString)
      else Nil
    def schemaRead(strip: Set[String]) = schemaManifest(conf, root) match {
      // active(): tombstoned (dropped) fields stay OUT of every read —
      // a rewrite re-materializing them would resurrect dropped data
      case Some(s) => spark.read.schema(org.apache.spark.sql.types.StructType(
        FieldIds.active(s).fields.filterNot(f => strip.contains(f.name))))
      case None => spark.read.option("mergeSchema", "true")
    }
    val rootPrefix = fs.makeQualified(rootPath).toString + "/"
    val allUnderRoot = effFiles.forall(f =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(f)).toString.startsWith(rootPrefix))
    if (allUnderRoot) {
      // single-dir case: partition-dir inference fills space/bucket
      val based = schemaRead(Set.empty).option("basePath", root)
      if (effFiles.isEmpty) based.parquet(root) else based.parquet(effFiles: _*)
    } else {
      // files span version dirs (manifest carry): vanilla partition
      // inference refuses sibling roots even with basePath, so read
      // the raw files and attach `space` from the driver-known file
      // list. The join key is the REL path (`space=…` onward), which
      // is unique per file by construction — the basename alone is
      // NOT: partitionBy writes the same `part-NNNNN-<taskUuid>` name
      // under every space dir one task touches
      val spaceOf: Seq[(String, String)] = effFiles.flatMap { f =>
        // LAST occurrence, matching the SQL side's substring_index(-1):
        // dir names can't contain '/', so the last '/space=' is always
        // the real partition dir even if the store PATH contains one
        val i = f.lastIndexOf("/space=")
        if (i < 0) Nil
        else {
          val rel = f.substring(i + 1)
          Seq(rel -> graft.sources.EsdbStoreSource.unescapePathName(
            rel.substring("space=".length, rel.indexOf('/'))))
        }
      }
      val raw = schemaRead(Set("space", "bucket")).parquet(effFiles: _*)
      if (spaceOf.isEmpty) raw // log layout: space is a data column
      else {
        import spark.implicits._
        val info = broadcast(spaceOf.toDF("_frel", "space"))
        raw.withColumn("_frel",
            concat(lit("space="),
              substring_index(col("_metadata.file_path"), "/space=", -1)))
          .join(info, "_frel").drop("_frel")
      }
    }
  }

  /** Current data root of a logical store path (see [[Publish]]): the
    * highest committed version dir, or the path itself for the legacy
    * direct layout every store starts with.
    */
  def dataRoot(spark: SparkSession, path: String): String =
    Publish.resolve(hconf(spark), path)

  /** Carry a file or tree into a new version's staging dir.
    *
    * Data files (`*.parquet`, not dot/underscore-prefixed) are
    * WRITE-ONCE: every writer creates new uniquely-named files and
    * "overwrite" means delete-then-recreate, never truncate-in-place.
    * On the local filesystem they therefore carry as HARD LINKS — O(1)
    * per file, no bytes moved, versions share the inode until the last
    * reference is vacuumed (an unlink, which never disturbs the other
    * version). This is what keeps versioned appends, copy-on-write
    * rewrites, and CDC-mode INSERTs metadata-priced instead of
    * O(store bytes) per commit ON THE LOCAL FS. Every other filesystem
    * (HDFS has no hardlink; `FileUtil.copy` on s3a is a CLIENT-side
    * read+write, not a server-side CopyObject) falls through to a real
    * byte copy here — which is why rewrites carry DATA files through
    * [[carryData]] instead: in manifest mode ([[Carry]]) kept files
    * are referenced in place and this function only ever moves small
    * sidecars. The `.crc` checksum sidecar links alongside (immutable
    * with its data file) so checksummed local reads keep verifying.
    *
    * Everything else — markers (`_SUBPARTS`, `_CLUSTER`, schema
    * sidecars) and other metadata — COPIES: those files ARE rewritten
    * in place via `create(overwrite = true)`, which on the raw local FS
    * truncates the inode and would corrupt every version sharing it.
    */
  private[graft] def carryInto(fs: org.apache.hadoop.fs.FileSystem,
                           src: org.apache.hadoop.fs.Path,
                           dst: org.apache.hadoop.fs.Path,
                           conf: org.apache.hadoop.conf.Configuration): Unit = {
    val st = fs.getFileStatus(src)
    if (st.isDirectory) {
      fs.mkdirs(dst)
      fs.listStatus(src).foreach { c =>
        // on a BARE RawLocalFileSystem listStatus exposes .crc sidecars;
        // each is carried WITH its data file below — visiting it again
        // would overwrite (truncate) the link just created
        if (!c.getPath.getName.endsWith(".crc"))
          carryInto(fs, c.getPath, new org.apache.hadoop.fs.Path(dst, c.getPath.getName), conf)
      }
      return
    }
    val name = src.getName
    val linkable = name.endsWith(".parquet") &&
      !name.startsWith("_") && !name.startsWith(".") && isRawLocal(fs)
    if (linkable) {
      val linked = try {
        val s = new java.io.File(fs.makeQualified(src).toUri.getPath).toPath
        val d = new java.io.File(fs.makeQualified(dst).toUri.getPath).toPath
        java.nio.file.Files.createDirectories(d.getParent)
        java.nio.file.Files.createLink(d, s)
        // best-effort crc sidecar link (immutable beside its data file)
        try {
          val sc = s.getParent.resolve(s".${s.getFileName}.crc")
          val dc = d.getParent.resolve(s".${d.getFileName}.crc")
          if (java.nio.file.Files.exists(sc) && !java.nio.file.Files.exists(dc))
            java.nio.file.Files.createLink(dc, sc): Unit
        } catch { case _: Exception => () }
        true
      } catch { case _: Exception => false } // cross-device, perms: copy instead
      if (linked) return
    }
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf): Unit
  }

  private def isRawLocal(fs: org.apache.hadoop.fs.FileSystem): Boolean = fs match {
    case _: org.apache.hadoop.fs.RawLocalFileSystem => true
    case c: org.apache.hadoop.fs.ChecksumFileSystem =>
      c.getRawFileSystem.isInstanceOf[org.apache.hadoop.fs.RawLocalFileSystem]
    case _ => false
  }

  /** Carry a rewrite's untouched DATA files into the staging dir — the
    * one place every copy-on-write operation prices its "kept" set.
    * In manifest mode ([[Carry.manifestMode]]) each file becomes one
    * `_CARRY` line referencing its ORIGINAL physical host (the
    * enumeration already yields physical locations, so a file carried
    * across ten versions still resolves in one hop) — commit cost
    * O(changed files) on any filesystem, the Iceberg/Delta-style
    * answer for HDFS (no hardlink) and S3 (client-side copy only).
    * Link mode keeps the hard-link/copy behavior for raw-local FS.
    * Files outside the store's `_versions` tree (legacy direct layout)
    * always carry physically.
    */
  private[graft] def carryData(fs: org.apache.hadoop.fs.FileSystem,
                               conf: org.apache.hadoop.conf.Configuration,
                               logicalPath: String,
                               tmpPath: org.apache.hadoop.fs.Path,
                               entries: Seq[(String, org.apache.hadoop.fs.Path)]): Unit = {
    if (entries.isEmpty) return
    val root = new org.apache.hadoop.fs.Path(logicalPath)
    if (Carry.manifestMode(conf, fs)) {
      val (byRef, byCopy) = entries.map { case (rel, p) =>
        (rel, p, Carry.vdirOf(root, p))
      }.partition(_._3.isDefined)
      Carry.appendManifest(fs, tmpPath,
        byRef.map { case (rel, _, v) => rel -> v.get }.toMap)
      byCopy.foreach { case (rel, p, _) =>
        val dst = new org.apache.hadoop.fs.Path(tmpPath, rel)
        fs.mkdirs(dst.getParent)
        carryInto(fs, p, dst, conf)
      }
    } else entries.foreach { case (rel, p) =>
      val dst = new org.apache.hadoop.fs.Path(tmpPath, rel)
      fs.mkdirs(dst.getParent)
      carryInto(fs, p, dst, conf)
    }
  }

  /** Resolved (rel, status, space) enumeration of a store version's
    * COMPLETE logical file set — physical plus manifest-carried, each
    * status at its physical location. The one listing every rewrite,
    * stat, and planner walks a bucketed store with.
    */
  def storeDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                     dataDir: org.apache.hadoop.fs.Path):
      Seq[(String, org.apache.hadoop.fs.FileStatus, String)] =
    Carry.dataFiles(fs, dataDir).flatMap { case (rel, st) =>
      if (!rel.startsWith("space=")) Nil // log-layout files have no space dir
      else {
        val seg = rel.substring("space=".length, rel.indexOf('/'))
        Seq((rel, st, graft.sources.EsdbStoreSource.unescapePathName(seg)))
      }
    }

  /** Compact an open store: rewrite the current data root as one freshly
    * sorted file set per space (typically one file) plus a rebuilt
    * manifest, then commit it as a new version via the [[Publish]]
    * version-pointer protocol. Appends accumulate one sorted file per
    * batch; compaction rebounds the ordered read's merge width — the
    * role LSM compaction plays for the reference's SSTable family. The
    * commit point is a single small pointer object, safe on stores with
    * no atomic rename (S3-class): a crash at any step leaves readers on
    * the previous version, never on a partial store.
    */
  def compact(spark: SparkSession, path: String, keepVersions: Int = 1,
              subparts: Option[Int] = None,
              clusterChunks: Option[Int] = None): Unit = {
    require(!isSealed(path), s"store at $path is sealed (immutable; compaction is for open stores)")
    require(subparts.forall(_ >= 1), s"subparts must be >= 1, got $subparts")
    require(clusterChunks.forall(_ >= 1), s"clusterChunks must be >= 1, got $clusterChunks")
    GraftSession.tune(spark)
    // pin to the head the rewrite reads: a concurrent versioned commit
    // between this resolve and the pointer commit must conflict loudly,
    // not be silently dropped from the compacted version
    val (headAtScan, src) = Publish.resolveWithVersion(hconf(spark), path)
    // LAYOUT EVOLUTION: subpartitioning and cluster chunking are fixed
    // per VERSION (each version dir carries its own _SUBPARTS/_CLUSTER
    // markers), and a full compaction — the one rewrite that re-buckets
    // every row anyway — is where they may legally change: pass a new
    // count and the rewrite re-hashes every grouping into the new
    // bucket space under one version commit. A store created small is
    // therefore NOT stuck with its creation-time write parallelism and
    // pruning granularity; partial rewrites (incremental compaction,
    // copy-on-write deletes, merges) still reuse the current version's
    // counts, because they carry files they must stay consistent with.
    val newSubparts = subparts.getOrElse(subpartsOf(hconf(spark), src))
    val cluster0 = clusterOf(hconf(spark), src)
    clusterChunks.foreach { _ =>
      require(cluster0.cols.nonEmpty,
        s"store at $path declares no clusterBy columns; clusterChunks has nothing to rescale")
    }
    val cluster = clusterChunks.fold(cluster0)(ch => cluster0.copy(chunks = ch))
    Publish.publish(hconf(spark), path, keepVersions, expectedVersion = headAtScan) { tmp =>
      // full-width read (not [[read]], which projects the canonical +
      // idx_* columns): compaction must preserve every stored column —
      // mergeSchema, because files written before a column was added
      // don't carry it and single-footer inference could DROP it here;
      // `bucket` is dropped because write() re-derives it
      val full = readFullWidth(spark, src)
      write(if (full.columns.contains("bucket")) full.drop("bucket") else full,
        tmp, subparts = newSubparts, clusterBy = cluster.cols,
        clusterChunks = math.max(1, cluster.chunks), clusterCurve = cluster.curve)
      carryStreamCommits(hconf(spark), src, tmp)
    }: Unit
  }

  /** Incremental compaction: rewrite ONLY spaces whose merge width
    * (data-file count) exceeds `maxFilesPerSpace`; carry already-
    * compact spaces into the new version verbatim. A full [[compact]]
    * re-encodes the entire store per run — write amplification that
    * grows with store size, not with append volume; here the rewrite
    * cost tracks the fragmented fraction, and the carried spaces cost
    * one hard link each on the local FS or one `_CARRY` manifest line
    * on everything else ([[carryData]]) — no decode/sort/encode, no
    * bytes through the cluster. Relative file
    * paths are preserved by the carry, so carried ts-range manifest
    * entries stay valid; manifest entries for rewritten files key on
    * now-absent names no reader ever looks up. Compaction never changes
    * the (space, grouping) pair set, so the groupings sidecar carries
    * whole. Same snapshot
    * guarantees as [[compact]]: one pointer-commit publishes the new
    * version, a crash leaves readers on the previous one.
    *
    * The reference's LSM analog: size-tiered compaction touches only
    * runs past the width threshold, never the whole keyspace.
    *
    * Returns true when a new version was published; false when no
    * space was fragmented enough to justify one (no version churn).
    */
  def compactIncremental(spark: SparkSession, path: String,
                         maxFilesPerSpace: Int = 4, keepVersions: Int = 1): Boolean = {
    require(maxFilesPerSpace >= 1, s"maxFilesPerSpace must be >= 1, got $maxFilesPerSpace")
    require(!isSealed(path), s"store at $path is sealed (immutable; compaction is for open stores)")
    GraftSession.tune(spark)
    val conf = hconf(spark)
    val (headAtScan, src) = Publish.resolveWithVersion(conf, path)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    val files = storeDataFiles(fs, srcPath)
    val (frag, keep) = files.groupBy(_._3).values.toSeq.partition(_.size > maxFilesPerSpace)
    if (frag.isEmpty) return false
    Publish.publish(conf, path, keepVersions, expectedVersion = headAtScan) { tmp =>
      // 1. the fragmented spaces go through the standard write path:
      //    merge width back to one file per space/bucket, blooms rebuilt
      //    (declared chunk count: the byte share is the whole store's)
      rewriteData(readFullWidth(spark, src, frag.flatten.map(_._2.getPath.toString)),
        tmp, src, 1L, 1L)
      // 2. carry compact spaces' files verbatim — manifest references
      //    in manifest mode, hard links on raw-local FS
      carryData(fs, conf, path, new org.apache.hadoop.fs.Path(tmp),
        keep.flatten.map { case (rel, f, _) => rel -> f.getPath })
      writeSidecars(spark, tmp, Rewritten(src, files, pairsKept = true))
      // committed streaming epochs must replay as no-ops after the rewrite
      carryStreamCommits(conf, src, tmp)
    }: Unit
    true
  }

  /** Row-level delete (GDPR scrub / retention): remove whole spaces
    * and/or specific groupings, committed as a NEW version via the
    * [[Publish]] pointer — readers keep their snapshot; the erasure
    * completes when retention/vacuum sweeps the old versions.
    *
    * Delete cost tracks the DOOMED DATA's locations, not store size:
    * the groupings manifest proves which spaces hold a doomed grouping
    * (the reference's key-index lookup, esdb.go:63-76) — every other
    * space is carried verbatim (a metadata-priced COPY on object
    * stores); within a subpartitioned hit space, only the grouping's
    * hash bucket rewrites (files in other buckets CANNOT hold it).
    * Deleting one user from a 100 TB store touches exactly the
    * spaces×(1/subparts) that user's events live in.
    */
  def delete(spark: SparkSession, path: String,
             spaces: Option[Set[String]] = None,
             groupings: Option[Set[String]] = None,
             keepVersions: Int = 1): Unit = {
    require(!isSealed(path), s"store at $path is sealed (immutable; no deletes)")
    require(spaces.isDefined || groupings.isDefined,
      "unbounded delete: use truncate() to empty a store")
    // a contradictory predicate (space='a' AND space='b') deletes nothing
    if (spaces.exists(_.isEmpty) || groupings.exists(_.isEmpty)) return
    GraftSession.tune(spark)
    val conf = hconf(spark)
    val (headAtScan, src) = Publish.resolveWithVersion(conf, path)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    val subparts = subpartsOf(conf, src)
    val allFiles: Seq[(String, org.apache.hadoop.fs.FileStatus, String)] =
      storeDataFiles(fs, srcPath)
    val inScope: Set[String] = spaces.getOrElse(allFiles.map(_._3).toSet)
    // manifest-driven targeting: only spaces PROVEN to hold a doomed
    // grouping are rewritten; a store without a manifest conservatively
    // rewrites every in-scope space
    val affected: Set[String] = groupings match {
      case None => inScope
      case Some(gs) =>
        groupingsRows(spark, src) match {
          case Some(m) =>
            m.filter(col("grouping").isin(gs.toSeq: _*))
              .select("space").collect().map(_.getString(0)).toSet
              .intersect(inScope)
          case None => inScope
        }
    }
    if (affected.isEmpty) return // the manifest proved the delete a no-op
    Publish.publish(conf, path, keepVersions, expectedVersion = headAtScan) { tmp =>
      val (hit, carry) = allFiles.partition { case (_, _, sp) => affected.contains(sp) }
      val gs = groupings.map(_.toSeq).getOrElse(Nil)
      val wantedBuckets: Option[Set[Int]] =
        if (groupings.isDefined && subparts > 1) Some(gs.map(bucketOf(_, subparts)).toSet)
        else None
      // within hit spaces, files in a bucket no doomed grouping hashes
      // to are carried, not rewritten
      val hitFiles = if (groupings.isDefined) hit else Nil
      val (rw, carryWithin) = hitFiles.partition { case (rel, _, _) =>
        wantedBuckets.forall(bs =>
          !rel.contains("/bucket=") || bs.exists(b => rel.contains(s"/bucket=$b/")))
      }
      if (rw.nonEmpty) {
        val df = readFullWidth(spark, src, rw.map(_._2.getPath.toString))
        rewriteData(df.filter(!col("grouping").isin(gs: _*) || col("grouping").isNull),
          tmp, src, rw.map(_._2.getLen).sum, allFiles.map(_._2.getLen).sum)
      } else copyLayoutMarkers(fs, conf, src, tmp)
      carryData(fs, conf, path, new org.apache.hadoop.fs.Path(tmp),
        (carry ++ carryWithin).map { case (rel, f, _) => rel -> f.getPath })
      writeSidecars(spark, tmp, Rewritten(src, allFiles))
      // committed streaming epochs must replay as no-ops after the rewrite
      carryStreamCommits(conf, src, tmp)
    }: Unit
  }

  /** Time-based retention: delete every row with `ts_us < cutoffUs`
    * (`<=` when `inclusive`), committed as a new version. The ts-range
    * manifest classifies each file WITHOUT opening it: a file whose
    * whole range is expired is simply not carried (pure metadata — at
    * 100 TB this is the common case, since the layout is ts-clustered
    * within groupings and appends arrive in rough time order); a file
    * whose whole range survives is carried verbatim; only STRADDLERS
    * rewrite. All-null-ts files survive whole (SQL: null fails every
    * comparison — retention never deletes null-ts rows). Unmanifested
    * files conservatively rewrite. The groupings sidecar rebuilds only
    * the spaces of dropped and rewritten files, from their survivors (a
    * grouping whose every event expired must stop being listed); every
    * other space's rows carry.
    */
  def deleteOlderThan(spark: SparkSession, path: String, cutoffUs: Long,
                      inclusive: Boolean = false, keepVersions: Int = 1): Unit = {
    require(!isSealed(path), s"store at $path is sealed (immutable; no deletes)")
    GraftSession.tune(spark)
    val conf = hconf(spark)
    val (headAtScan, src) = Publish.resolveWithVersion(conf, path)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    // (has_ts, min, max, null_free) per file; null_free null in rows
    // appended before the column existed → false (conservative)
    val ranges: Map[String, (Boolean, Long, Long, Boolean)] =
      tsRangeManifest(spark, path) match {
        case None => Map.empty
        case Some(m) => m.collect().map { r =>
          val hasTs = r.getBoolean(3)
          (r.getString(0), (hasTs, if (hasTs) r.getLong(1) else 0L,
            if (hasTs) r.getLong(2) else 0L, !r.isNullAt(4) && r.getBoolean(4)))
        }.toMap
      }
    def expired(ts: Long): Boolean = if (inclusive) ts <= cutoffUs else ts < cutoffUs
    val files = storeDataFiles(fs, srcPath)
    // drop = whole range expired AND provably no null-ts rows (a null
    // fails every comparison, so null rows must survive any retention);
    // carry = whole range survives (or all null ts); rewrite =
    // straddles the cutoff, has unproven nulls, or unknown to the manifest
    val (drop, rest) = files.partition { case (rel, _, _) =>
      ranges.get(rel).exists { case (hasTs, _, mx, nullFree) =>
        hasTs && nullFree && expired(mx)
      }
    }
    val (carry, rewrite) = rest.partition { case (rel, _, _) =>
      ranges.get(rel).exists { case (hasTs, mn, _, _) => !hasTs || !expired(mn) }
    }
    if (drop.isEmpty && rewrite.isEmpty) return // nothing expired: no version churn
    Publish.publish(conf, path, keepVersions, expectedVersion = headAtScan) { tmp =>
      if (rewrite.nonEmpty) {
        val df = readFullWidth(spark, src, rewrite.map(_._2.getPath.toString))
        val survives =
          if (inclusive) col("ts_us").isNull || col("ts_us") > cutoffUs
          else col("ts_us").isNull || col("ts_us") >= cutoffUs
        rewriteData(df.filter(survives), tmp, src,
          rewrite.map(_._2.getLen).sum, files.map(_._2.getLen).sum)
      } else copyLayoutMarkers(fs, conf, src, tmp)
      carryData(fs, conf, path, new org.apache.hadoop.fs.Path(tmp),
        carry.map { case (rel, f, _) => rel -> f.getPath })
      // the sidecars survive even an everything-expired retention
      writeSidecars(spark, tmp, Rewritten(src, files))
      // committed streaming epochs must replay as no-ops after the rewrite
      carryStreamCommits(conf, src, tmp)
    }: Unit
  }

  /** Arbitrary-predicate row-level delete (`DELETE FROM t WHERE cond`)
    * as a stats-targeted copy-on-write: parquet footer stats plus the
    * space partition value classify each file WITHOUT reading data
    * pages — a file whose stats prove no row can match is carried
    * byte-for-byte; only candidate files rewrite, filtered through the
    * same publish-versioned path the keyed deletes use. Rows where the
    * predicate evaluates NULL survive (SQL DELETE semantics). At
    * 100 TB the cost tracks the predicate's stat-range footprint (the
    * files a value range actually touches in a ts-clustered, grouping-
    * sorted layout), not store size; the classification is one
    * parallel footer round, the planning cost an ordered scan already
    * pays.
    */
  def deleteWhere(spark: SparkSession, path: String,
                  filters: Seq[org.apache.spark.sql.sources.Filter],
                  keepVersions: Int = 1): Unit = {
    require(filters.nonEmpty, "unbounded delete: use truncate() to empty a store")
    rewriteWhere(spark, path, filters, keepVersions) { (df, cond) =>
      // delete rows where cond IS TRUE; false AND null both survive
      df.filter(!coalesce(cond, lit(false)))
    }: Unit
  }

  /** Row-level UPDATE (`UPDATE t SET c = e, … WHERE cond`) through the
    * same footer-stats copy-on-write as [[deleteWhere]]: files whose
    * stats prove no row can match carry byte-for-byte; candidates
    * rewrite with the SET applied only to matching rows (predicate NULL
    * leaves the row untouched — SQL UPDATE semantics). Every assignment
    * sees the PRE-update row (one projection, not sequential
    * `withColumn`s) and casts to the column's existing type, so the
    * store's schema never drifts. This is the redaction half of GDPR —
    * "scrub this field" rather than "drop this user" — priced like the
    * delete: by the predicate's stat-range footprint, not store size.
    */
  def updateWhere(spark: SparkSession, path: String,
                  set: Map[String, org.apache.spark.sql.Column],
                  filters: Seq[org.apache.spark.sql.sources.Filter],
                  keepVersions: Int = 1): Boolean = {
    require(set.nonEmpty, "UPDATE with no assignments")
    // validate assignments BEFORE rewriteWhere's stats-proven-no-op
    // early return: `UPDATE t SET nope = 1 WHERE <provably no match>`
    // must refuse the unknown column loudly, not silently return false
    val storeCols = schemaManifest(hconf(spark), dataRoot(spark, path))
      .map(_.fieldNames.toSet)
      .getOrElse(read(spark, path).schema.fieldNames.toSet)
    val unknown = set.keySet -- storeCols
    require(unknown.isEmpty, s"UPDATE of unknown column(s): ${unknown.mkString(", ")}")
    // space is the layout's partition key: moving events across spaces
    // is a migration (write a new store), not a row UPDATE — and every
    // footprint-scoped maintenance step (manifest deltas, ts-range
    // refresh) assumes a rewrite stays inside its files' spaces
    val layoutSet = set.keySet.intersect(Set("space", "bucket"))
    require(layoutSet.isEmpty,
      s"UPDATE of layout column(s) ${layoutSet.mkString(", ")} is not supported")
    rewriteWhere(spark, path, filters, keepVersions) { (df, cond) =>
      val missing = set.keySet -- df.columns.toSet
      require(missing.isEmpty, s"UPDATE of unknown column(s): ${missing.mkString(", ")}")
      val hit = coalesce(cond, lit(false))
      df.select(df.columns.map { c =>
        set.get(c) match {
          case Some(v) =>
            // keep the column's metadata (field IDs): a bare alias
            // would silently strip the parquet.field.id the rewrite
            // must re-stamp into its output files
            when(hit, v.cast(df.schema(c).dataType)).otherwise(col(c))
              .as(c, df.schema(c).metadata)
          case None => col(c)
        }
      }: _*)
    }
  }

  /** A bounded `collect_set`: the distinct values of one column while
    * there are at most `cap` of them, else null. Past the cap the buffer
    * drops its values, so a large MERGE source never gathers its keys
    * on one executor or on the driver.
    */
  private final class DistinctUpTo(cap: Int, dt: org.apache.spark.sql.types.DataType)
      extends org.apache.spark.sql.expressions.Aggregator[
        org.apache.spark.sql.Row, Option[Set[Any]], org.apache.spark.sql.Row] {
    def zero: Option[Set[Any]] = Some(Set.empty)
    def reduce(b: Option[Set[Any]], r: org.apache.spark.sql.Row): Option[Set[Any]] =
      b.map(_ + r.get(0)).filter(_.size <= cap)
    def merge(a: Option[Set[Any]], b: Option[Set[Any]]): Option[Set[Any]] =
      a.zip(b).map { case (x, y) => x ++ y }.filter(_.size <= cap)
    def finish(b: Option[Set[Any]]): org.apache.spark.sql.Row =
      org.apache.spark.sql.Row(b.map(_.toSeq).orNull)
    def bufferEncoder: org.apache.spark.sql.Encoder[Option[Set[Any]]] =
      org.apache.spark.sql.Encoders.javaSerialization[Option[Set[Any]]]
    def outputEncoder: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("values", org.apache.spark.sql.types.ArrayType(dt)))))
  }

  /** Keyed MERGE (upsert) — the third member of the DML triad next to
    * [[deleteWhere]]/[[updateWhere]]: target rows whose key tuple
    * appears in `source` are REPLACED by the source row; source rows
    * matching no target row are INSERTED. One atomic version commit.
    *
    * Scale shape (the copy-on-write discipline of the other two):
    *  - source key bounds — an IN-list for small key sets, min/max
    *    ranges otherwise — classify every file by footer stats in one
    *    parallel footer round; only possibly-matching files rewrite,
    *    the rest carry byte-for-byte. On a store `clusterBy`-ed on the
    *    merge keys (X23) the rewrite footprint therefore tracks the
    *    source's key-range selectivity, the same way predicate
    *    DELETE/UPDATE do.
    *  - the matched-row replacement is one full outer join of the
    *    footprint with the source's key tuples: it yields the kept
    *    target rows and both counts — churn-sized on both sides.
    *  - inserts are the source rows themselves, landing in the same
    *    written file set (idx_* recomputed from the payload; missing
    *    evolved columns null-fill; field IDs re-stamped).
    *
    * Contract: source key tuples must be UNIQUE (a duplicate would
    * make the upsert nondeterministic — refused loudly, like the
    * reference refuses ambiguous writes) and non-null; source columns
    * must be a subset of the store's (ALTER first for new columns).
    * Target rows with null keys never match (SQL semantics) and are
    * always carried. Returns (matchedReplaced, inserted).
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
                keys: Seq[String], keepVersions: Int = 1): (Long, Long) = {
    require(!isSealed(path), s"store at $path is sealed (immutable; no rewrites)")
    require(keys.nonEmpty, "MERGE requires at least one key column")
    GraftSession.tune(spark)
    val conf = hconf(spark)
    // head at listing time: the footprint classification below and the
    // long source-stats jobs run before publish reads the head again —
    // a concurrent versioned commit in that window (routine via cdc=true
    // INSERT / appendVersioned) must conflict loudly, not be dropped
    val (headAtScan, src) = Publish.resolveWithVersion(conf, path)
    val storeSchema = FieldIds.active(
      schemaManifest(conf, src).getOrElse(readFullWidth(spark, src).schema))
    val storeCols = storeSchema.fieldNames.filterNot(_ == "bucket").toSet
    val badKeys = keys.filterNot(k => storeCols(k) && source.columns.contains(k))
    require(badKeys.isEmpty,
      s"MERGE key(s) missing from store or source: ${badKeys.mkString(", ")}")
    val extra = source.columns.filterNot(storeCols)
    require(extra.isEmpty,
      s"MERGE source has column(s) the store lacks: ${extra.mkString(", ")} — " +
        "ALTER TABLE ADD COLUMNS first (additive evolution), then merge")
    // inserts become full store rows: the canonical identity columns
    // cannot be null-filled in
    val missingCanon = Seq("space", "grouping", "ts_us", "event_id")
      .filterNot(source.columns.contains)
    require(missingCanon.isEmpty,
      s"MERGE source must carry the canonical columns; missing: ${missingCanon.mkString(", ")}")
    // one source pass: duplicate/null key tuples refuse before any IO,
    // and the same aggregate yields the footprint filters — per-key
    // min/max ranges, plus a single key's exact set while it is small
    val InListCap = 10000
    val keySet = if (keys.size > 1) Nil else {
      val f = org.apache.spark.sql.types.StructType(Seq(source.schema(keys.head).copy(nullable = true)))
      Seq(udaf(new DistinctUpTo(InListCap, f.head.dataType),
        org.apache.spark.sql.Encoders.row(f))(col(keys.head)))
    }
    val stats = source.agg(count(lit(1)).as("n"), (Seq(
      count_distinct(col(keys.head), keys.tail.map(col): _*).as("nd"),
      count(when(keys.map(col(_).isNull).reduce(_ || _), lit(1))).as("nulls")) ++
      keys.flatMap(k => Seq(min(col(k)), max(col(k)))) ++ keySet): _*).head()
    val (nSrc, nDistinct, nNullKeys) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    require(nNullKeys == 0, s"MERGE source has $nNullKeys row(s) with null key — " +
      "null never matches; filter them or fix the key")
    require(nDistinct == nSrc, s"MERGE source has ${nSrc - nDistinct} duplicate key " +
      "tuple(s) — an upsert with two source rows for one key is nondeterministic")
    if (nSrc == 0) return (0L, 0L)
    // conservative per-key footprint filters: exact IN-list when the
    // key set is small (footer stats check each value), min/max ranges
    // otherwise — footers only, no data pages
    val filters: Seq[org.apache.spark.sql.sources.Filter] =
      if (keys.size == 1 && !stats.getStruct(5).isNullAt(0))
        Seq(org.apache.spark.sql.sources.In(keys.head, stats.getStruct(5).getSeq[Any](0).toArray))
      else keys.zipWithIndex.flatMap { case (k, i) =>
        Seq(org.apache.spark.sql.sources.GreaterThanOrEqual(k, stats.get(3 + 2 * i)),
          org.apache.spark.sql.sources.LessThanOrEqual(k, stats.get(4 + 2 * i)))
      }
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    val files: Seq[(String, org.apache.hadoop.fs.FileStatus, String)] =
      storeDataFiles(fs, srcPath)
    val classified = {
      import scala.collection.parallel.CollectionConverters._
      files.toVector.par
        .map { case (rel, f, sp) =>
          (rel, f, DeleteWhere.fileMayMatch(conf, f.getPath, Some(sp), filters))
        }
        .toVector
    }
    val (rewrite, carry) = classified.partition(_._3)
    // align the source to the store's width ONCE: idx_* recomputed from
    // the payload (write-time index contract), evolved columns
    // null-fill, field-ID metadata carried from the store schema
    val indexAttrs = storeSchema.fieldNames.filter(_.startsWith("idx_"))
      .map(_.stripPrefix("idx_")).toSeq
    def alignSource(): DataFrame = {
      val withIdx = indexAttrs.foldLeft(source) { (df, a) =>
        df.withColumn(s"idx_$a", EventFrame.attr(a))
      }
      withIdx.select(storeSchema.fields.filterNot(_.name == "bucket").map { f =>
        (if (withIdx.columns.contains(f.name)) col(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType)).as(f.name, f.metadata)
      }.toSeq: _*)
    }
    var replacedRows = 0L
    var insertedRows = nSrc
    Publish.publish(conf, path, keepVersions, expectedVersion = headAtScan) { tmp =>
      val inserts = alignSource()
      var cached: DataFrame = null
      val replaced =
        if (rewrite.isEmpty) inserts
        else {
          // ONE full outer join of the footprint with the source keys
          // (unique by the duplicate check) answers everything: target
          // rows with no source key are kept, matched target rows are
          // replaced (a key may match several — keys need not be a
          // target PK), and source keys with no target row are inserts.
          // Cached for the op's duration: the counts and the rewrite
          // both read it, so the parquet scan and the join run once
          // (churn-bounded, disk-spillable)
          val k = keys.indices.map(i => s"__merge_k$i")
          val keyed = source.select(keys.zip(k).map { case (c, a) => col(c).as(a) } :+
            lit(true).as("__merge_s"): _*)
          cached = readFullWidth(spark, src, rewrite.map(_._2.getPath.toString))
            .withColumn("__merge_t", lit(true))
            .join(keyed, keys.zip(k).map { case (c, a) => col(c) === col(a) }.reduce(_ && _),
              "full_outer")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val m = cached.agg(count(when(col("__merge_t") && col("__merge_s"), lit(1))),
            count(when(col("__merge_t").isNull, lit(1)))).head()
          replacedRows = m.getLong(0)
          insertedRows = m.getLong(1)
          cached.where(col("__merge_s").isNull).drop(k ++ Seq("__merge_t", "__merge_s"): _*)
            .unionByName(inserts, allowMissingColumns = true)
        }
      try rewriteData(replaced, tmp, src, rewrite.map(_._2.getLen).sum,
        math.max(1L, classified.map(_._2.getLen).sum))
      finally { if (cached != null) cached.unpersist(): Unit }
      carryData(fs, conf, path, new org.apache.hadoop.fs.Path(tmp),
        carry.map { case (rel, f, _) => rel -> f.getPath })
      // pairs change in the rewritten files' spaces and wherever the
      // source's rows landed: exactly the files this rewrite removed/wrote
      writeSidecars(spark, tmp, Rewritten(src, files))
      // committed streaming epochs must replay as no-ops after the rewrite
      carryStreamCommits(conf, src, tmp)
    }: Unit
    (replacedRows, insertedRows)
  }

  /** Shared copy-on-write core of [[deleteWhere]] and [[updateWhere]]:
    * translate the conjunction, classify every data file by footer
    * stats (one parallel footer round, no data pages), rewrite only
    * candidates through `transform`, carry the rest byte-for-byte, and
    * publish as one new version. Returns false when stats proved the
    * operation a no-op (no version churn).
    */
  private def rewriteWhere(spark: SparkSession, path: String,
                           filters: Seq[org.apache.spark.sql.sources.Filter],
                           keepVersions: Int)
                          (transform: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Boolean = {
    require(!isSealed(path), s"store at $path is sealed (immutable; no rewrites)")
    val cond = DeleteWhere.translate(filters).getOrElse(
      throw new IllegalArgumentException(
        s"untranslatable predicate: ${filters.mkString(", ")}"))
    GraftSession.tune(spark)
    val conf = hconf(spark)
    val (headAtScan, src) = Publish.resolveWithVersion(conf, path)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    val files: Seq[(String, org.apache.hadoop.fs.FileStatus, String)] =
      storeDataFiles(fs, srcPath)
    // footer-stat classification, probed in parallel (independent IO)
    val classified = {
      import scala.collection.parallel.CollectionConverters._
      files.toVector.par
        .map { case (rel, f, sp) =>
          (rel, f, DeleteWhere.fileMayMatch(conf, f.getPath, Some(sp), filters))
        }
        .toVector
    }
    val (rewrite, carry) = classified.partition(_._3)
    if (rewrite.isEmpty) return false // stats proved a no-op: no version churn
    Publish.publish(conf, path, keepVersions, expectedVersion = headAtScan) { tmp =>
      val df = readFullWidth(spark, src, rewrite.map(_._2.getPath.toString))
      // a clustered store re-clusters the rewritten slice at its byte
      // share of the declared chunk count: the copy-on-write footprint
      // stays proportional to selectivity in files AND in output files
      rewriteData(transform(df, cond), tmp, src, rewrite.map(_._2.getLen).sum,
        classified.map(_._2.getLen).sum)
      carryData(fs, conf, path, new org.apache.hadoop.fs.Path(tmp),
        carry.map { case (rel, f, _) => rel -> f.getPath })
      writeSidecars(spark, tmp, Rewritten(src, files))
      // committed streaming epochs must replay as no-ops after the rewrite
      carryStreamCommits(conf, src, tmp)
    }: Unit
    true
  }

  /** Replace an explicit file footprint with new content — the engine
    * half of the native SQL row-level statements (`UPDATE`, `MERGE
    * INTO`, predicate `DELETE FROM`) that Spark plans group-based
    * through `SupportsRowLevelOperations`
    * ([[graft.sources.EsdbRowLevelOperation]]). The operation's scan
    * read exactly `rewriteRels`; `replacement` holds every surviving /
    * updated / inserted row for those groups. One new version
    * publishes: the replacement engine-written (re-sorted, re-bucketed,
    * re-clustered at its byte share, idx_* re-derived from payload —
    * the index is derived data, so a SET touching payload can never
    * leave it stale), every other live file carried byte-for-byte.
    *
    * Refuses with a publish conflict when any footprint file is no
    * longer in the live version — a concurrent rewrite landed between
    * the statement's scan and its commit; the statement retries against
    * the new head. The publish is additionally pinned to the head
    * version the carry listing was taken at (`expectedVersion`), so a
    * concurrent commit of ANY kind — including an append, whose files
    * the stale listing would otherwise silently drop rather than
    * carry — also surfaces as a conflict and retries.
    */
  private[graft] def replaceFootprint(spark: SparkSession, path: String,
                                      rewriteRels: Set[String],
                                      replacement: DataFrame,
                                      keepVersions: Int = 2): Unit = {
    require(!isSealed(path), s"store at $path is sealed (immutable; no rewrites)")
    GraftSession.tune(spark)
    val conf = hconf(spark)
    // the head version the file listing below is taken at: publish pins
    // to it, so a concurrent commit landing between this listing and
    // the pointer commit conflicts loudly instead of being dropped
    val (headAtScan, src) = Publish.resolveWithVersion(conf, path)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    val files = storeDataFiles(fs, srcPath)
    val missing = rewriteRels -- files.map(_._1).toSet
    if (missing.nonEmpty) throw new java.io.IOException(
      s"publish conflict: row-level operation footprint at $path is no longer " +
        s"current (${missing.size} scanned file(s) were rewritten underneath, " +
        s"e.g. ${missing.head}) — retry the statement against the new version")
    val (rewrite, carry) = files.partition { case (rel, _, _) => rewriteRels.contains(rel) }
    val storeSchema = FieldIds.active(
      schemaManifest(conf, src).getOrElse(readFullWidth(spark, src).schema))
    val indexAttrs = storeSchema.fieldNames.toSeq
      .filter(_.startsWith("idx_")).map(_.stripPrefix("idx_"))
    val base =
      if (replacement.columns.contains("bucket")) replacement.drop("bucket") else replacement
    val withIdx = indexAttrs.foldLeft(base)((df, a) =>
      df.withColumn(s"idx_$a", EventFrame.attr(a)))
    val aligned = withIdx.select(storeSchema.fields.filterNot(_.name == "bucket").map { f =>
      (if (withIdx.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType)).as(f.name, f.metadata)
    }.toSeq: _*)
    Publish.publish(conf, path, keepVersions, expectedVersion = headAtScan) { tmp =>
      rewriteData(aligned, tmp, src, math.max(1L, rewrite.map(_._2.getLen).sum),
        math.max(1L, files.map(_._2.getLen).sum))
      carryData(fs, conf, path, new org.apache.hadoop.fs.Path(tmp),
        carry.map { case (rel, f, _) => rel -> f.getPath })
      // pairs change only where the statement touched: the rewritten
      // files' spaces plus wherever the replacement rows landed (MERGE
      // inserts and UPDATE SET space can introduce new ones)
      writeSidecars(spark, tmp, Rewritten(src, files))
      // committed streaming epochs must replay as no-ops after the rewrite
      carryStreamCommits(conf, src, tmp)
    }: Unit
  }

  /** Output partition count for a log rewrite, sized like [[compactLog]]
    * sizes its output: one range partition per `maxPartitionBytes` of
    * rewritten input — without this, `repartitionByRange(col)` defaults
    * to `spark.sql.shuffle.partitions` and a small rewrite fragments
    * into hundreds of tiny files.
    */
  private def rewritePartitions(spark: SparkSession, inputBytes: Long): Int = {
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    math.max(1, math.ceil(inputBytes.toDouble / math.max(1L, maxPart)).toInt)
  }

  /** Proven-zero-null event_id column across every block — one footer
    * read, no data pages; the license to drop a log file whole.
    */
  private def eventIdNullFree(conf: org.apache.hadoop.conf.Configuration,
                              file: org.apache.hadoop.fs.Path): Boolean = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      var ok = true
      var saw = false
      r.getFooter.getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          if (c.getPath.toDotString == "event_id") {
            saw = true
            val st = c.getStatistics
            if (st == null || !st.isNumNullsSet || st.getNumNulls > 0) ok = false
          }
        }
      }
      ok && saw
    } finally r.close()
  }

  /** Trim a log store's history: delete every row with
    * `event_id < beforeId` (`<=` when `inclusive`), committed as a new
    * version. The log manifest classifies each file without opening
    * it — logs are range-partitioned by event_id at write, so trims
    * land on file boundaries: wholly-expired files drop (after a
    * one-footer null-free proof — a null event_id row, pathological in
    * a log, must survive like any row failing the comparison), wholly-
    * surviving files carry byte-for-byte, only straddlers rewrite.
    * Commit markers carry with the version so replayed streaming
    * epochs stay no-ops after a trim.
    */
  def trimLog(spark: SparkSession, path: String, beforeId: Long,
              inclusive: Boolean = false, keepVersions: Int = 1): Unit = {
    require(!isSealed(path), s"stream at $path is closed (reference: closed_stream.go:48-50)")
    GraftSession.tune(spark)
    val conf = hconf(spark)
    val (headAtScan, src) = Publish.resolveWithVersion(conf, path)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    def expired(id: Long): Boolean = if (inclusive) id <= beforeId else id < beforeId
    val ranges = logManifestRanges(conf, src).getOrElse(Map.empty)
    val visible = LogCommits.visibleDataFiles(fs, srcPath)
    val (dropCand, rest) = visible.partition(f =>
      ranges.get(f.getPath.getName).exists { case (_, mx) => expired(mx) })
    val (drop, dropUnproven) = dropCand.partition(f => eventIdNullFree(conf, f.getPath))
    val (carry, straddle) = rest.partition(f =>
      ranges.get(f.getPath.getName).exists { case (mn, _) => !expired(mn) })
    val rewrite = straddle ++ dropUnproven
    if (drop.isEmpty && rewrite.isEmpty) return // nothing expired: no version churn
    Publish.publish(conf, path, keepVersions, expectedVersion = headAtScan) { tmp =>
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      fs.mkdirs(tmpPath)
      if (rewrite.nonEmpty) {
        val df = readFullWidth(spark, src, rewrite.map(_.getPath.toString))
        val survives =
          if (inclusive) col("event_id").isNull || col("event_id") > beforeId
          else col("event_id").isNull || col("event_id") >= beforeId
        df.filter(survives)
          .repartitionByRange(rewritePartitions(spark, rewrite.map(_.getLen).sum), col("event_id"))
          .sortWithinPartitions(col("event_id"))
          .write.mode(SaveMode.Append).parquet(tmp)
      }
      carryData(fs, conf, path, tmpPath,
        carry.map(f => f.getPath.getName -> f.getPath))
      // replayed committed epochs must stay no-ops after the trim
      carryStreamCommits(conf, srcPath.toString, tmpPath.toString)
      // manifest rows for carried names travel with the version (stale
      // dropped-file rows are never looked up); the refresh below then
      // reads footers for the REWRITTEN files only
      linkSidecarParts(fs, conf, src, tmp, LogManifest)
      refreshLogManifest(spark, tmp)
      unionPriorSchema(conf, src, tmp)
    }: Unit
  }

  /** Arbitrary-predicate row-level delete on a LOG store — the flat
    * dual of [[deleteWhere]]: footer stats classify each file (space
    * is a data column here, so its stats participate like any other);
    * provably-unmatchable files carry byte-for-byte, candidates
    * rewrite preserving the range-partitioned sorted layout. Epoch
    * markers carry so replaying exactly-once sinks stay no-ops; the
    * log manifest carries for untouched names and refreshes for the
    * rewritten files.
    */
  def deleteWhereLog(spark: SparkSession, path: String,
                     filters: Seq[org.apache.spark.sql.sources.Filter],
                     keepVersions: Int = 1): Unit = {
    require(!isSealed(path), s"stream at $path is closed (immutable; no deletes)")
    val cond = DeleteWhere.translate(filters).getOrElse(
      throw new IllegalArgumentException(
        s"untranslatable delete predicate: ${filters.mkString(", ")}"))
    require(filters.nonEmpty, "unbounded delete: use truncate() to empty a log")
    GraftSession.tune(spark)
    val conf = hconf(spark)
    val (headAtScan, src) = Publish.resolveWithVersion(conf, path)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    val visible = LogCommits.visibleDataFiles(fs, srcPath)
    val classified = {
      import scala.collection.parallel.CollectionConverters._
      visible.toVector.par
        .map(f => (f, DeleteWhere.fileMayMatch(conf, f.getPath, None, filters)))
        .toVector
    }
    val (rewrite, carry) = classified.partition(_._2)
    if (rewrite.isEmpty) return // stats proved the delete a no-op: no version churn
    Publish.publish(conf, path, keepVersions, expectedVersion = headAtScan) { tmp =>
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      fs.mkdirs(tmpPath)
      val df = readFullWidth(spark, src, rewrite.map(_._1.getPath.toString))
      // delete rows where cond IS TRUE; false AND null both survive
      df.filter(!coalesce(cond, lit(false)))
        .repartitionByRange(rewritePartitions(spark, rewrite.map(_._1.getLen).sum), col("event_id"))
        .sortWithinPartitions(col("event_id"))
        .write.mode(SaveMode.Append).parquet(tmp)
      carryData(fs, conf, path, tmpPath,
        carry.map { case (f, _) => f.getPath.getName -> f.getPath })
      // replayed committed epochs must stay no-ops after the delete
      carryStreamCommits(conf, srcPath.toString, tmpPath.toString)
      // manifest rows for carried names travel with the version; the
      // refresh covers only the rewritten files (footer reads)
      if (carry.nonEmpty) linkSidecarParts(fs, conf, src, tmp, LogManifest)
      refreshLogManifest(spark, tmp)
      unionPriorSchema(conf, src, tmp)
    }: Unit
  }

  /** Empty the store (SQL TRUNCATE / unbounded DELETE): publish a
    * version holding only the schema sidecar and layout marker — the
    * logical table survives with zero rows; old versions age out via
    * retention/vacuum.
    */
  def truncate(spark: SparkSession, path: String, keepVersions: Int = 1): Unit = {
    require(!isSealed(path), s"store at $path is sealed (immutable; no truncate)")
    val conf = hconf(spark)
    val src = dataRoot(spark, path)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    Publish.publish(conf, path, keepVersions) { tmp =>
      copyLayoutMarkers(fs, conf, src, tmp)
      // log stores: committed-epoch markers carry so a replaying
      // streaming sink does not re-append truncated history
      carryStreamCommits(conf, src, tmp)
      schemaManifest(conf, src).foreach(s => writeSchemaManifest(conf, tmp, s))
    }: Unit
  }

  /** How a publish's data files relate to the version they land in —
    * what [[writeSidecars]] carries, extends or rebuilds.
    */
  private sealed trait SidecarChange
  /** [[write]]: the version holds only the files this write produced. */
  private case object Created extends SidecarChange
  /** In-place append: `written` landed beside the version's files and
    * `pairs` are the batch's distinct (space, grouping) pairs.
    */
  private final case class Appended(written: Seq[(String, org.apache.hadoop.fs.Path)],
                                    pairs: DataFrame) extends SidecarChange
  /** Copy-on-write: the version was staged from `prior`, whose live
    * files were `priorFiles`. File names are write-unique, so a rel in
    * both listings was carried and the rest were written or removed.
    * `pairsKept`: the rewrite provably kept the pair set (compaction).
    */
  private final case class Rewritten(prior: String,
                                     priorFiles: Seq[(String, org.apache.hadoop.fs.FileStatus, String)],
                                     pairsKept: Boolean = false) extends SidecarChange

  /** The one sidecar step of every publishing path, run once after its
    * data write (and, for a rewrite, after the carry):
    *  - schema: a rewrite unions the prior version's sidecar in, so
    *    columns living only in carried files stay declared;
    *  - ts-range: a rewrite links the prior's rows (carried names are
    *    preserved; stale rows for removed files are never looked up),
    *    then [[refreshTsRangeManifest]] adds rows for the written files;
    *  - groupings: an append adds its batch's pairs; a rewrite rebuilds
    *    the pairs of the spaces whose files it wrote or removed
    *    ([[refreshGroupingsManifestFor]]) and carries the rest; a
    *    version with no data files keeps no groupings sidecar.
    */
  private def writeSidecars(spark: SparkSession, root: String, change: SidecarChange): Unit = {
    val conf = hconf(spark)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    def live = if (fs.exists(rootPath)) storeDataFiles(fs, rootPath) else Nil
    change match {
      case Created =>
        val files = live
        refreshTsRangeManifest(spark, root, files.map(f => f._1 -> f._2.getPath))
        if (files.nonEmpty) refreshGroupingsManifestFor(spark, root, files, None)
      case Appended(written, pairs) if written.nonEmpty =>
        refreshTsRangeManifest(spark, root, written)
        pairs.write.mode(SaveMode.Append).parquet(s"$root/$GroupingsManifest")
      case Appended(_, _) => () // an empty batch wrote no files
      case Rewritten(prior, priorFiles, pairsKept) =>
        unionPriorSchema(conf, prior, root)
        val files = live
        if (files.nonEmpty) {
          linkSidecarParts(fs, conf, prior, root, TsRangeManifest)
          val before = priorFiles.map(_._1).toSet
          val after = files.map(_._1).toSet
          val written = files.filterNot(f => before(f._1))
          refreshTsRangeManifest(spark, root, written.map(f => f._1 -> f._2.getPath))
          val touched =
            if (pairsKept) Set.empty[String]
            else (written ++ priorFiles.filterNot(f => after(f._1))).map(_._3).toSet
          refreshGroupingsManifestFor(spark, root, files,
            Some(prior).filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, GroupingsManifest)))
              .map(_ -> touched))
        }
    }
  }

  /** Fold the prior version's schema sidecar into the staged one: a
    * rewrite never narrows the logical schema.
    */
  private def unionPriorSchema(conf: org.apache.hadoop.conf.Configuration,
                               src: String, tmp: String): Unit =
    schemaManifest(conf, src).foreach(old => writeSchemaManifest(conf, tmp,
      schemaManifest(conf, tmp).fold(old)(unionSchemas(_, old))))

  /** Link a sidecar's part files from `src` into the staged `tmp`
    * (`carry-` prefixed so they never collide with fresh parts).
    */
  private def linkSidecarParts(fs: org.apache.hadoop.fs.FileSystem,
                               conf: org.apache.hadoop.conf.Configuration,
                               src: String, tmp: String, sidecar: String): Unit = {
    val old = new org.apache.hadoop.fs.Path(src, sidecar)
    if (fs.exists(old)) {
      val dst = new org.apache.hadoop.fs.Path(tmp, sidecar)
      fs.mkdirs(dst)
      fs.listStatus(old).toSeq
        .filter(f => f.isFile && f.getLen > 0 &&
          !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        .foreach { f =>
          carryInto(fs, f.getPath,
            new org.apache.hadoop.fs.Path(dst, s"carry-${f.getPath.getName}"), conf)
        }
    }
  }

  /** The groupings sidecar — the analog of the reference's key index:
    * `Db.Iterate`/`Space.Iterate` are index-only reads there
    * (esdb.go:63-76, space.go:45-60), so enumeration here must not scan
    * event data either. Readers distinct across part files.
    *
    * Built by ONE query: the prior version's rows for untouched spaces
    * (`prior` = (root, touched spaces); None rebuilds every space)
    * unioned with the distinct pairs of the touched spaces' live files
    * in the staged version — two small dictionary-encoded columns, read
    * with the schema sidecar, so no inference job. Cost follows the
    * rewrite footprint's spaces, not the store. With nothing touched
    * the prior's part files link over and no job runs.
    */
  private def refreshGroupingsManifestFor(spark: SparkSession, root: String,
                                          files: Seq[(String, org.apache.hadoop.fs.FileStatus, String)],
                                          prior: Option[(String, Set[String])]): Unit = {
    prior match {
      case Some((p, touched)) if touched.isEmpty =>
        val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(hconf(spark))
        linkSidecarParts(fs, hconf(spark), p, root, GroupingsManifest)
      case _ =>
        val staged = prior match {
          case None => Some(readFullWidth(spark, root))
          case Some((_, touched)) => Some(files.filter(f => touched(f._3))).filter(_.nonEmpty)
            .map(fs => readFullWidth(spark, root, fs.map(_._2.getPath.toString)))
        }
        // metadata stripped: store-derived columns carry field IDs the
        // bare pair files do not
        val rescanned = staged.map(_.select(
          col("space").as("space", org.apache.spark.sql.types.Metadata.empty),
          col("grouping").as("grouping", org.apache.spark.sql.types.Metadata.empty)))
        val untouched = prior.flatMap { case (p, touched) =>
          groupingsRows(spark, p).map(_.where(!col("space").isin(touched.toSeq: _*))) }
        (untouched ++ rescanned).reduceOption(_ unionByName _).foreach(_.distinct()
          .write.mode(SaveMode.Overwrite).parquet(s"$root/$GroupingsManifest"))
    }
  }

  /** The sidecars' fixed schemas: reads never infer them (no footer
    * job), and `null_free` is nullable so rows written before it
    * existed read null — "unknown", the conservative answer.
    */
  private val PairsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "space STRING, grouping STRING")
  private val TsRangeSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "file STRING, min_ts BIGINT, max_ts BIGINT, has_ts BOOLEAN, null_free BOOLEAN")

  /** The groupings sidecar's rows as stored (not distinct) under a
    * resolved data root.
    */
  private def groupingsRows(spark: SparkSession, root: String): Option[DataFrame] = {
    val m = new org.apache.hadoop.fs.Path(root, GroupingsManifest)
    if (!m.getFileSystem(hconf(spark)).exists(m)) None
    else Some(spark.read.schema(PairsSchema).parquet(m.toString))
  }

  /** Distinct (space, grouping) pairs from the manifest sidecar; None
    * for stores written before manifests existed (callers fall back to
    * a data scan).
    */
  def manifestGroupings(spark: SparkSession, path: String): Option[DataFrame] =
    groupingsRows(spark, dataRoot(spark, path)).map(_.distinct())

  /** Append a batch to a (still-open) log directory. Refuses when sealed —
    * the reference errors writes after Close (stream/closed_stream.go:48-50).
    */
  def append(ev: DataFrame, path: String, indexAttrs: Seq[String] = Nil): Unit = {
    require(!isSealed(path), s"stream at $path is closed (reference: closed_stream.go:48-50)")
    // appends land in the CURRENT data root (the active version dir of a
    // compacted store, or the legacy direct layout) — the next compaction
    // folds them into the next version
    val root = dataRoot(ev.sparkSession, path)
    val indexed0 = indexAttrs.foldLeft(ev) { (df, name) =>
      df.withColumn(s"idx_$name", EventFrame.attr(name))
    }
    // an ID-ed store stamps every appended file: carry the sidecar's
    // field IDs onto the batch by name (fresh IDs above the tombstone-
    // inclusive max for never-seen columns), so renames keep resolving
    val baseSchema = schemaManifest(hconf(ev.sparkSession), root)
    val indexed = baseSchema match {
      case Some(b) if FieldIds.hasIds(b) =>
        FieldIds.decorate(indexed0, FieldIds.align(indexed0.schema, b))
      case _ => indexed0
    }
    // validate schema evolution BEFORE any data lands: a type-changing
    // batch must refuse outright, not fail after writing its files
    val evolved = baseSchema.map(base => unionSchemas(base, indexed.schema))
    // the store's creation-time subpartitioning is authoritative: a
    // grouping's events must land in the same bucket every append
    val subparts = subpartsOf(hconf(ev.sparkSession), root)
    // a clustered store re-clusters every append on the declared
    // columns (chunk count scaled down is impossible pre-write, so the
    // batch takes the declared count; compaction rebounds file counts)
    val cluster = clusterOf(hconf(ev.sparkSession), root)
    val (parted, partCols) = partitionForWrite(indexed, subparts, cluster)
    val writer = parted.write
      .mode(SaveMode.Append)
      .partitionBy(partCols: _*)
    // the files this append writes are the listing's new names (file
    // names are write-unique): two driver listings, no job
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(hconf(ev.sparkSession))
    def listed = if (fs.exists(rootPath)) storeDataFiles(fs, rootPath) else Nil
    val before = listed.map(_._1).toSet
    indexAttrs.foldLeft(writer) { (w, name) =>
      w.option(s"parquet.bloom.filter.enabled#idx_$name", "true")
    }.parquet(root)
    // manifest delta from the batch itself (not a full-store re-read,
    // which would make append cost grow with store size); metadata
    // stripped: manifest files stay uniformly bare even when the batch
    // derives from a store read
    writeSidecars(ev.sparkSession, root, Appended(
      listed.collect { case (rel, st, _) if !before(rel) => rel -> st.getPath },
      ev.select(
        col("space").as("space", org.apache.spark.sql.types.Metadata.empty),
        col("grouping").as("grouping", org.apache.spark.sql.types.Metadata.empty)).distinct()))
    evolved.foreach(s => writeSchemaManifest(hconf(ev.sparkSession), root, s))
  }

  /** Append as a NEW immutable version (predecessor ∪ batch, staged
    * and pointer-committed): the concurrency-safe, snapshot-isolated
    * append — two racing appenders BOTH commit (the loser's closure
    * re-stages against the winner's head, [[Publish.publishRetrying]])
    * and the store's history gains one auditable version per batch.
    * Predecessor files CARRY without moving bytes — hard links on the
    * local FS, in-place `_CARRY` references everywhere else
    * ([[carryData]]); cost O(batch write + carried-file METADATA),
    * never a store rewrite — so the version's `_FILES` diff is exactly
    * the appended files: a committed append-kind change-feed entry
    * ([[Publish.versionDiffs]]), and `option("changesSince", v)` keeps
    * reading pure deltas across it. [[append]] stays the cheapest
    * in-place path when a single writer owns the store.
    * `keepVersions >= 2` so a concurrent loser can still read the head
    * it staged against while retrying.
    */
  def appendVersioned(ev: DataFrame, path: String, keepVersions: Int = 2,
                      indexAttrs: Seq[String] = Nil): Unit = {
    require(!isSealed(path), s"stream at $path is closed (reference: closed_stream.go:48-50)")
    val spark = ev.sparkSession
    val conf = hconf(spark)
    Publish.publishRetrying(conf, path, keepVersions) { tmp =>
      // resolved INSIDE the closure: a retry sees the new head
      if (Publish.hasData(conf, path)) {
        val src = new org.apache.hadoop.fs.Path(dataRoot(spark, path))
        val dst = new org.apache.hadoop.fs.Path(tmp)
        val fs = src.getFileSystem(conf)
        fs.mkdirs(dst)
        val manifestMode = Carry.manifestMode(conf, fs)
        fs.listStatus(src).foreach { s =>
          val n = s.getPath.getName
          // the snapshot is re-recorded at commit; everything else
          // (space dirs, manifests, schema sidecar) carries verbatim.
          // On a direct-layout store dataRoot == root, which also holds
          // the publish machinery (_ptr, _versions — the latter contains
          // the staging dir being filled right now) and seal markers:
          // copying those would recurse into the destination, so skip
          // every root-level sidecar that is not store data.
          // Manifest mode: data (space dirs) and the predecessor's own
          // _CARRY are handled below by reference — the resolved
          // enumeration re-points every file at its ORIGINAL host, so
          // a chain of versioned appends stays one-hop.
          val dataEntry = n.startsWith("space=") || n == Carry.ManifestFile
          if (n != Publish.SnapshotFile && n != Publish.PtrDir &&
              n != Publish.VersionsDir && !n.startsWith(SealMarker) &&
              !(manifestMode && dataEntry))
            carryInto(fs, s.getPath,
              new org.apache.hadoop.fs.Path(dst, n), conf)
        }
        if (manifestMode)
          carryData(fs, conf, path, dst,
            Carry.dataFiles(fs, src).map { case (rel, st) => rel -> st.getPath })
        append(ev, tmp, indexAttrs)
      } else write(ev, tmp, indexAttrs)
    }: Unit
  }

  /** Seal: reference `Close()` writes the tails SSTable + footer magic
    * (stream/open_stream.go:146-201). Here: a `_CLOSED` marker plus a
    * tails sidecar so readers get O(1) heads without scanning.
    */
  def seal(spark: SparkSession, path: String, indexName: String): Unit = {
    // refuse before mutating anything: a re-seal must not overwrite the
    // existing tails sidecar as a side effect of a failed operation
    // (reference: closed streams refuse writes, closed_stream.go:48-50)
    require(!isSealed(path), s"stream at $path is already sealed")
    val ev = read(spark, path)
    EventLog.tails(ev, indexName)
      .withColumn("index_name", org.apache.spark.sql.functions.lit(indexName))
      .write.mode(SaveMode.Overwrite).parquet(s"$path/$SealMarker.tails")
    val m = new org.apache.hadoop.fs.Path(path, SealMarker)
    m.getFileSystem(hconf(spark)).create(m, false).close()
  }

  /** Tails of a sealed store, served from the seal-time sidecar — the
    * closed-stream read path (reference closed_stream.go:52-67 reads
    * the tails SSTable instead of scanning). None when the store is
    * open or was sealed on a different index.
    */
  def sealedTails(spark: SparkSession, path: String, indexName: String): Option[DataFrame] = {
    if (!isSealed(path)) return None
    val side = spark.read.parquet(s"$path/$SealMarker.tails")
    if (!side.columns.contains("index_name")) return None
    val forIndex = side.where(org.apache.spark.sql.functions.col("index_name") === indexName)
      .select("attr", "tail_event_id")
    if (forIndex.limit(1).isEmpty) None else Some(forIndex)
  }

  /** Resolved through the Hadoop `FileSystem` of the path's scheme, so
    * a `file:` URI or a non-local store reads its seal like a bare path.
    */
  def isSealed(path: String): Boolean = {
    val m = new org.apache.hadoop.fs.Path(path, SealMarker)
    m.getFileSystem(SparkSession.getActiveSession.fold(
      new org.apache.hadoop.conf.Configuration())(hconf)).exists(m)
  }

  /** `_CDC` marker at the LOGICAL root: when set, the catalog INSERT
    * path appends as its own versioned commit ([[appendVersioned]]) so
    * SQL-ingested rows surface in the `esdbchanges` feed at their own
    * version, instead of riding invisibly until the next unrelated
    * publish. Off by default: a plain append is in-place and O(batch),
    * a versioned one also carries the predecessor's files — the right
    * default for a CDC-followed table, not for raw bulk ingest.
    */
  val CdcMarker = "_CDC"

  /** The marker body records the publish retention CDC appends use —
    * the CTAS `keepVersions` property persists here, so INSERT-driven
    * version sweeps honor the declared window instead of silently
    * collapsing history to the appendVersioned default.
    *
    * Disabling does NOT delete the marker: it rewrites it as an
    * `off:<keep>` tombstone so the declared retention survives an
    * off/on toggle — a feed consumer relying on a CTAS-declared wide
    * window must not lose history because an operator flipped the flag
    * twice. Re-enabling takes the WIDER of the requested and recorded
    * windows (retention can widen silently, never narrow silently).
    */
  def setCdc(conf: org.apache.hadoop.conf.Configuration, path: String,
             enabled: Boolean, keepVersions: Int = 2): Unit = {
    require(keepVersions >= 2,
      s"cdc keepVersions must be >= 2 (a feed consumer needs the predecessor readable): $keepVersions")
    val m = new org.apache.hadoop.fs.Path(path, CdcMarker)
    val fs = m.getFileSystem(conf)
    val recorded = recordedCdcKeep(conf, path)
    if (enabled) {
      val keep = math.max(keepVersions, recorded.getOrElse(2))
      val out = fs.create(m, true)
      try out.write(keep.toString.getBytes("UTF-8")) finally out.close()
    } else if (fs.exists(m) || recorded.isDefined) {
      val out = fs.create(m, true)
      try out.write(s"off:${recorded.getOrElse(keepVersions)}".getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** The retention the marker records regardless of the enabled flag —
    * what a re-enable restores. None when no marker was ever written.
    */
  private def recordedCdcKeep(conf: org.apache.hadoop.conf.Configuration,
                              path: String): Option[Int] =
    readCdcMarker(conf, path).map(_._2)

  /** Raw marker state: (enabled, recorded keepVersions). None = no
    * marker file. Legacy empty/garbled bodies read as enabled at the
    * default window (never fail an INSERT over a sidecar).
    */
  def cdcMarkerState(conf: org.apache.hadoop.conf.Configuration,
                     path: String): Option[(Boolean, Int)] = readCdcMarker(conf, path)

  private def readCdcMarker(conf: org.apache.hadoop.conf.Configuration,
                            path: String): Option[(Boolean, Int)] = {
    val m = new org.apache.hadoop.fs.Path(path, CdcMarker)
    val fs = m.getFileSystem(conf)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      val txt = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
      finally in.close()
      val (enabled, body) =
        if (txt.startsWith("off:")) (false, txt.stripPrefix("off:")) else (true, txt)
      Some((enabled,
        scala.util.Try(body.toInt).toOption.filter(_ >= 2).getOrElse(2)))
    }
  }

  /** CDC retention when enabled (the marker body; legacy empty markers
    * read as the default 2), None when the table is not CDC-enabled —
    * including when an `off:` tombstone preserves a disabled table's
    * declared window for a later re-enable.
    */
  def cdcKeepVersions(conf: org.apache.hadoop.conf.Configuration,
                      path: String): Option[Int] =
    readCdcMarker(conf, path).collect { case (true, keep) => keep }

  def cdcEnabled(conf: org.apache.hadoop.conf.Configuration, path: String): Boolean =
    cdcKeepVersions(conf, path).isDefined

  /** One parser for the `cdc` table property (CTAS and ALTER share it
    * so the two surfaces can never drift): strictly 'true'/'false',
    * anything else refuses instead of silently disabling.
    */
  def parseCdcFlag(v: String): Boolean = {
    val t = v.trim
    require(t.equalsIgnoreCase("true") || t.equalsIgnoreCase("false"),
      s"TBLPROPERTIES cdc must be 'true' or 'false', got '$v'")
    t.equalsIgnoreCase("true")
  }

  /** Per-space store statistics from parquet FOOTERS only — no data
    * pages are ever read: event count (row-group counts) and ts_us
    * min/max (column-chunk statistics). The metadata-only analog of
    * the reference's index summary: at 100 TB the cost is one footer
    * read per file, distributed over the executors.
    */
  def storeStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dataRoot(spark, path))
    val fs = root.getFileSystem(hconf)
    val files: Seq[(String, String)] =
      if (!fs.exists(root)) Nil
      else storeDataFiles(fs, root).map { case (_, f, sp) => (sp, f.getPath.toString) }
    val par = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(files).repartition(par)
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        it.map { case (space, file) =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(file), conf))
          try {
            var n = 0L
            var mn = Option.empty[Long]
            var mx = Option.empty[Long]
            r.getFooter.getBlocks.forEach { b =>
              n += b.getRowCount
              b.getColumns.forEach { c =>
                if (c.getPath.toDotString == "ts_us") {
                  val st = c.getStatistics
                  if (st != null && st.hasNonNullValue) {
                    val lo = st.genericGetMin.asInstanceOf[java.lang.Long].longValue()
                    val hi = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
                    mn = Some(mn.fold(lo)(math.min(_, lo)))
                    mx = Some(mx.fold(hi)(math.max(_, hi)))
                  }
                }
              }
            }
            (space, n, mn, mx)
          } finally r.close()
        }
      }
      .toDF("space", "n", "mn", "mx")
      .groupBy("space")
      .agg(sum("n").as("n_events"), min("mn").as("min_ts_us"), max("mx").as("max_ts_us"))
      .orderBy("space")
  }

  // ---- log layout: the stream-side dual of the space/grouping store ----

  /** Write a canonical [[EventFrame]] as a LOG store: files
    * range-partitioned and sorted by `event_id`, so physical order IS
    * insertion order — the reference's flat append log
    * (stream/stream.go:10-13), whose `Iterate` never sorts. Read back
    * through [[readLog]] ([[graft.sources.EsdbLogSource]]): the scan
    * reports global (event_id ASC) order, resume offsets push down to
    * file pruning + record filters, and iterate's Sort is elided.
    *
    * The range partitioning is the only shuffle; at cluster scale the
    * write parallelism is the range-partition count while reads stay
    * sequential (log consumption is sequential in the reference too —
    * parallel analytics should read the same files as plain parquet).
    */
  def writeLog(ev: DataFrame, path: String): Unit = {
    ev.repartitionByRange(col("event_id"))
      .sortWithinPartitions(col("event_id"))
      .write.mode(SaveMode.ErrorIfExists).parquet(path)
    refreshLogManifest(ev.sparkSession, path)
    writeSchemaManifest(hconf(ev.sparkSession), path, ev.schema)
  }

  /** Append a batch to an open log store (reference append,
    * stream/open_stream.go:77-105). Batches land as new sorted files;
    * id ranges may interleave with existing files — the log reader's
    * merge keeps global order either way.
    */
  def appendLog(ev: DataFrame, path: String): Unit = {
    require(!isSealed(path), s"stream at $path is closed (reference: closed_stream.go:48-50)")
    val root = dataRoot(ev.sparkSession, path)
    // validate evolution before data lands (type changes refuse here)
    val evolved = schemaManifest(hconf(ev.sparkSession), root)
      .map(base => unionSchemas(base, ev.schema))
    ev.repartitionByRange(col("event_id"))
      .sortWithinPartitions(col("event_id"))
      .write.mode(SaveMode.Append).parquet(root)
    refreshLogManifest(ev.sparkSession, path)
    evolved.foreach(s => writeSchemaManifest(hconf(ev.sparkSession), root, s))
  }

  /** Append ONE streaming micro-batch to an open log store, exactly
    * once — the unit of work behind
    * [[graft.streaming.StreamIngest.sinkLog]], the reference's
    * `Stream.Write` loop (stream/open_stream.go:77-105) as a
    * Structured Streaming sink. Visibility follows the [[LogCommits]]
    * marker protocol: the batch's files are invisible to every reader
    * until its single commit marker lands, a replayed epoch that
    * already committed is a no-op, and a replayed epoch that crashed
    * mid-write sweeps its own invisible leftovers first. Safe on
    * object stores: no directory rename anywhere.
    *
    * `filesPerBatch` is the range-partition count for the batch's
    * sorted layout — 1 for small test batches; at ingest scale set it
    * so each file is O(100 MB) and the write parallelism matches the
    * cluster (files stay sorted by event_id either way, so the log
    * reader's merge and manifest pruning hold).
    */
  def appendLogBatch(batch: DataFrame, path: String, epochId: Long,
                     filesPerBatch: Int = 1): Unit = {
    require(!isSealed(path), s"stream at $path is closed (reference: closed_stream.go:48-50)")
    val spark = batch.sparkSession
    val conf = hconf(spark)
    val root = new org.apache.hadoop.fs.Path(dataRoot(spark, path))
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    if (LogCommits.committedEpochs(fs, root).contains(epochId)) return
    // validate evolution before data lands (type changes refuse here)
    val evolved = schemaManifest(conf, root.toString)
      .map(base => unionSchemas(base, batch.schema))
    // a crashed attempt's files are invisible (no marker) — sweep them
    // so the rewrite below cannot double-count
    fs.listStatus(root).foreach { f =>
      if (f.isFile && LogCommits.epochOf(f.getPath.getName).contains(epochId))
        fs.delete(f.getPath, false): Unit
    }
    // stage the sorted batch under a dot-dir (invisible to every
    // listing), then move each part to its deterministic visible name
    val stage = new org.apache.hadoop.fs.Path(root,
      s".stage-$epochId-" + java.util.UUID.randomUUID().toString.take(8))
    batch.repartitionByRange(math.max(1, filesPerBatch), col("event_id"))
      .sortWithinPartitions(col("event_id"))
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val parts = fs.listStatus(stage).toSeq
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && f.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
    val names = parts.zipWithIndex.map { case (f, i) =>
      val dst = new org.apache.hadoop.fs.Path(root, f"stream-$epochId-$i%05d.parquet")
      if (!fs.rename(f.getPath, dst))
        throw new java.io.IOException(s"stage move failed: ${f.getPath} -> $dst")
      dst.getName
    }
    fs.delete(stage, true)
    commitEpochMarker(fs, conf, root, epochId, names)
    refreshLogManifest(spark, path)
    evolved.foreach(s => writeSchemaManifest(conf, root.toString, s))
  }

  /** The commit point of one streaming epoch: one marker object,
    * created only after every data file is durable (same
    * single-small-object commit as [[Publish]]). Loses a marker race
    * gracefully: a concurrent committer of the SAME epoch (possible
    * only under a misconfigured double-run) wins, and this attempt's
    * files — shadowed duplicates — are removed in deference.
    */
  /** Carry `_STREAM_COMMITS` epoch markers from the live version into
    * a staged rewrite. A streaming-sink batch that committed to the
    * store but whose checkpoint had not yet recorded completion may be
    * REPLAYED after the rewrite publishes; the marker is what makes
    * that replay a no-op instead of a duplicate append. EVERY rewrite
    * that publishes a new version of a store that might be a streaming
    * sink target must call this — every store- AND log-layout rewrite
    * routes through here.
    */
  private[graft] def carryStreamCommits(conf: org.apache.hadoop.conf.Configuration,
                                        src: String, tmp: String): Unit = {
    val markers = new org.apache.hadoop.fs.Path(src, LogCommits.Dir)
    val fs = markers.getFileSystem(conf)
    if (fs.exists(markers)) {
      val dst = new org.apache.hadoop.fs.Path(tmp, LogCommits.Dir)
      fs.mkdirs(dst)
      fs.listStatus(markers).toSeq.filter(_.isFile).foreach { m =>
        org.apache.hadoop.fs.FileUtil.copy(fs, m.getPath, fs,
          new org.apache.hadoop.fs.Path(dst, m.getPath.getName), false, conf): Unit
      }
    }
  }

  private def commitEpochMarker(fs: org.apache.hadoop.fs.FileSystem,
                                conf: org.apache.hadoop.conf.Configuration,
                                root: org.apache.hadoop.fs.Path,
                                epochId: Long, names: Seq[String]): Unit = {
    val dir = new org.apache.hadoop.fs.Path(root, LogCommits.Dir)
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".tmp-$epochId-" + java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(names.mkString("\n").getBytes("UTF-8")) finally out.close()
    val marker = new org.apache.hadoop.fs.Path(dir, s"$epochId.commit")
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(marker.toUri, conf)
        .rename(tmp, marker)
    } catch {
      case e: Exception =>
        fs.delete(tmp, false)
        names.foreach(n => fs.delete(new org.apache.hadoop.fs.Path(root, n), false))
        if (!LogCommits.committedEpochs(fs, root).contains(epochId)) throw e
    }
  }

  /** Driver-side commit of a native STORE-layout streaming epoch
    * ([[graft.sources.EsdbWriteSupport]]'s `writeStream.format("esdb")`
    * path). Executors wrote each space's rows into a dot-staged
    * `space=X/.stream-<epoch>-p<k>-<uuid>.parquet` — a leading dot
    * keeps the file invisible to EVERY reader (Spark's discovery, the
    * DSv2 planners, and [[relativeDataFiles]] all skip dot files), so
    * no marker-awareness had to be taught to the store's read paths.
    * This commit finalizes the epoch: each staged file loses its dot
    * (single-file renames — per-file copy on S3-class stores, the
    * bounded price of the store's directory layout), any dot-staged
    * stragglers of the SAME epoch from a crashed earlier attempt are
    * swept, the epoch marker lands, and the groupings/ts-range/schema
    * sidecars extend by exactly the new files. A replayed epoch whose
    * marker exists deletes the replay's staged duplicates and keeps
    * the committed original — exactly-once, mirroring the log sink.
    */
  private[graft] def commitStoreEpoch(spark: SparkSession, path: String, epochId: Long,
                                      staged: Seq[String],
                                      pairs: Seq[(String, String)],
                                      batchSchema: org.apache.spark.sql.types.StructType): Unit = {
    val conf = hconf(spark)
    val root = new org.apache.hadoop.fs.Path(dataRoot(spark, path))
    val fs = root.getFileSystem(conf)
    def sweepStaged(): Unit = fs.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("space="))
      .foreach { d =>
        fs.listStatus(d.getPath).toSeq.foreach { c =>
          if (c.isFile && c.getPath.getName.startsWith(s".stream-$epochId-"))
            fs.delete(c.getPath, false): Unit
          else if (c.isDirectory && c.getPath.getName.startsWith("bucket="))
            fs.listStatus(c.getPath).toSeq
              .filter(f => f.isFile && f.getPath.getName.startsWith(s".stream-$epochId-"))
              .foreach(f => fs.delete(f.getPath, false): Unit)
        }
      }
    if (LogCommits.committedEpochs(fs, root).contains(epochId)) {
      sweepStaged() // the replay's duplicates; the committed epoch stands
      return
    }
    // finalize this attempt's files, then sweep stragglers from any
    // CRASHED earlier attempt of the same epoch (they were never
    // visible; the replay re-wrote their rows)
    val finalNames = staged.map { rel =>
      val p = new org.apache.hadoop.fs.Path(root, rel)
      val dst = new org.apache.hadoop.fs.Path(p.getParent, p.getName.stripPrefix("."))
      if (!fs.rename(p, dst)) throw new java.io.IOException(
        s"could not finalize streamed file $rel at $path")
      // the FULL relative path (dot stripped from the basename only):
      // for subpartitioned stores rel is `space=X/bucket=N/.stream-…`,
      // and the marker/cleanup paths must keep the `space=` segment
      s"${new org.apache.hadoop.fs.Path(rel).getParent}/${dst.getName}"
    }
    sweepStaged()
    commitEpochMarker(fs, conf, root, epochId, finalNames)
    import spark.implicits._
    writeSidecars(spark, root.toString, Appended(
      finalNames.map(rel => rel -> new org.apache.hadoop.fs.Path(root, rel)),
      pairs.distinct.toDF("space", "grouping")))
    mergeSchemaManifest(conf, root.toString, batchSchema)
  }

  /** Driver-side commit of a NATIVE streaming-sink epoch
    * ([[graft.sources.EsdbLogSource]]'s `writeStream` path): the
    * epoch's data files are already durable under their final
    * `stream-<epoch>-*` names (invisible — no marker yet); this makes
    * them visible and extends the id-range manifest. A replay of an
    * epoch that already committed deletes the replay's duplicate files
    * and keeps the original — the no-op half of exactly-once.
    */
  private[graft] def commitStreamEpoch(spark: SparkSession, path: String,
                                       epochId: Long, names: Seq[String]): Unit = {
    val conf = hconf(spark)
    val root = new org.apache.hadoop.fs.Path(dataRoot(spark, path))
    val fs = root.getFileSystem(conf)
    if (LogCommits.committedEpochs(fs, root).contains(epochId)) {
      names.foreach(n => fs.delete(new org.apache.hadoop.fs.Path(root, n), false))
      return
    }
    commitEpochMarker(fs, conf, root, epochId, names)
    refreshLogManifest(spark, path)
  }

  /** Compact a LOG store: rewrite the current data root as a fresh
    * range-partitioned, id-sorted file set plus a rebuilt manifest,
    * committed as a new version through the [[Publish]] pointer —
    * the log-layout sibling of [[compact]]. Streaming ingest
    * accumulates one file set per micro-batch; compaction rebounds the
    * ordered read's merge width and restores the vectorized steady
    * state (disjoint id ranges, so reads concatenate columnar instead
    * of row-merging). Only COMMITTED files participate — an in-flight
    * batch's invisible files stay with its epoch and are rewritten by
    * its replay against the new version.
    *
    * The `_STREAM_COMMITS` markers are carried into the new version:
    * a batch that committed to the sink but whose streaming checkpoint
    * had not yet recorded completion may be REPLAYED after the
    * compaction, and the marker is what makes that replay a no-op
    * instead of a duplicate append.
    */
  /** `numFiles` also sets the compacted log's PARALLEL REPLAY width:
    * output files are range-partitioned on event_id (mutually
    * disjoint), so `readLogParallel` and the streaming micro-batch
    * planner get exactly `numFiles` partitions afterwards. At scale,
    * size it for O(100 MB) files — 1 (the small-store default) gives
    * one vectorizable file but a single-cursor replay.
    */
  def compactLog(spark: SparkSession, path: String, numFiles: Int = 1,
                 keepVersions: Int = 1): Unit = {
    require(!isSealed(path), s"stream at $path is closed (reference: closed_stream.go:48-50)")
    GraftSession.tune(spark)
    val conf = hconf(spark)
    val (headAtScan, srcRoot) = Publish.resolveWithVersion(conf, path)
    val src = new org.apache.hadoop.fs.Path(srcRoot)
    val fs = src.getFileSystem(conf)
    val visible = LogCommits.visibleDataFiles(fs, src).map(_.getPath.toString)
    require(visible.nonEmpty, s"nothing to compact at $path")
    Publish.publish(conf, path, keepVersions, expectedVersion = headAtScan) { tmp =>
      val full = readFullWidth(spark, src.toString, visible)
      full
        .repartitionByRange(math.max(1, numFiles), col("event_id"))
        .sortWithinPartitions(col("event_id"))
        .write.parquet(tmp)
      refreshLogManifest(spark, tmp)
      writeSchemaManifest(conf, tmp, full.schema)
      carryStreamCommits(conf, src.toString, tmp)
    }: Unit
  }

  /** Open a log store through the order-reporting DSv2 source. */
  def readLog(spark: SparkSession, path: String): DataFrame = {
    GraftSession.tune(spark)
    spark.read.format("esdblog").load(path)
  }

  /** Open a log store for PARALLEL replay: one scan partition per
    * manifest-proven disjoint id-range file group, each ordered by
    * event_id within itself (the DSv2 per-partition ordering
    * contract), groups ascending. A full-history replay of an N-group
    * log runs N-wide instead of serializing through the single global
    * cursor — the 100 TB path for consumers (aggregation, per-key
    * state rebuild, enrichment) that don't need one global iterator.
    * Falls back to the single-partition global merge when the manifest
    * can't prove the grouping.
    */
  def readLogParallel(spark: SparkSession, path: String): DataFrame = {
    GraftSession.tune(spark)
    spark.read.format("esdblog").option("parallel", "true").load(path)
  }

  /** Open a log store as a STREAM: micro-batches of exactly the events
    * appended since the checkpointed event_id offset — the reference's
    * open-stream consumption loop (`Iterate(offset, fn)` re-called as
    * the log grows, stream/stream.go:92-124), with the offset persisted
    * by Structured Streaming's checkpoint instead of the caller.
    * `Trigger.AvailableNow` drains to the current head and stops.
    */
  /** `parallel = true` opts each micro-batch into one partition per
    * disjoint id-range file group (a wide `populate` replay) at the
    * cost of the per-batch single-cursor global order — use it for
    * order-insensitive consumers (aggregation, per-key state, sinks
    * that sort); the default keeps the merge-ordered single partition.
    */
  def readLogStream(spark: SparkSession, path: String,
                    parallel: Boolean = false): DataFrame = {
    GraftSession.tune(spark)
    spark.readStream.format("esdblog")
      .option("parallel", parallel.toString).load(path)
  }

  /** Per-file (min, max) event_id from the write-time manifest — the
    * analog of the reference log's offset arithmetic: a resume offset
    * prunes whole files without opening them. None for stores written
    * before manifests existed (readers keep every file).
    */
  def logManifest(spark: SparkSession, path: String): Option[DataFrame] = {
    val root = dataRoot(spark, path)
    val m = new org.apache.hadoop.fs.Path(root, LogManifest)
    if (!m.getFileSystem(hconf(spark)).exists(m)) None
    // mergeSchema: rows appended before the `rows` count column existed
    // coexist with new ones in the same sidecar dir
    else Some(spark.read.option("mergeSchema", "true").parquet(s"$root/$LogManifest"))
  }

  /** Rebuild the manifest rows for files not yet covered: one footer
    * read per NEW file (append cost stays proportional to the batch,
    * not the store), appended to the sidecar.
    */
  /** The same per-file (min, max) event_id map, read DIRECTLY with
    * parquet-mr — no Spark job. Scan planning calls this (listing +
    * manifest + footer probes happen before any task launches, so a
    * Spark job here would put a whole query's latency inside another
    * query's planner). `root` is the already-resolved data root.
    */
  def logManifestRanges(conf: org.apache.hadoop.conf.Configuration,
                        root: String): Option[Map[String, (Long, Long)]] =
    logManifestInfo(conf, root).map(_.map { case (k, i) => k -> (i.minId, i.maxId) })

  /** One log-manifest row: the file's event_id range plus its row
    * count. `rows` is -1 for manifest rows written before the count
    * column existed — callers treat unknown counts conservatively
    * (streaming admission control ends a micro-batch at such a file).
    */
  final case class LogFileInfo(minId: Long, maxId: Long, rows: Long)

  /** Full manifest rows (range + row count), read directly with
    * parquet-mr — no Spark job (see [[logManifestRanges]]).
    */
  def logManifestInfo(conf: org.apache.hadoop.conf.Configuration,
                      root: String): Option[Map[String, LogFileInfo]] = {
    val dir = new org.apache.hadoop.fs.Path(root, LogManifest)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return None
    val parts = fs.listStatus(dir).filter { f =>
      val n = f.getPath.getName
      f.isFile && f.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
    }
    val out = scala.collection.mutable.HashMap[String, LogFileInfo]()
    parts.foreach { p =>
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p.getPath)
        .withConf(conf).build()
      try {
        var g = reader.read()
        while (g != null) {
          // rows landed in the schema later; old manifest part-files
          // predate it (per-file schemas differ inside one sidecar dir)
          val rows =
            if (g.getType.containsField("rows") && g.getFieldRepetitionCount("rows") > 0)
              g.getLong("rows", 0)
            else -1L
          out(g.getString("file", 0)) =
            LogFileInfo(g.getLong("min_id", 0), g.getLong("max_id", 0), rows)
          g = reader.read()
        }
      } finally reader.close()
    }
    Some(out.toMap)
  }

  private def refreshLogManifest(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(dataRoot(spark, path))
    val fs = root.getFileSystem(hconf(spark))
    // direct parquet-mr read: every append commits through here, and a
    // Spark job just to list known file names would tax the write path
    // the same way it taxed scan planning
    val known: Set[String] = logManifestRanges(hconf(spark), root.toString)
      .map(_.keySet).getOrElse(Set.empty)
    // visibility-filtered: an uncommitted streaming batch's files must
    // not enter the manifest (they may be swept and rewritten on replay)
    val fresh = LogCommits.visibleDataFiles(fs, root)
      .filterNot(f => known.contains(f.getPath.getName))
    if (fresh.isEmpty) return
    val rows = fresh.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, hconf(spark)))
      try {
        var mn = Long.MaxValue
        var mx = Long.MinValue
        var cnt = 0L
        r.getFooter.getBlocks.forEach { b =>
          cnt += b.getRowCount
          b.getColumns.forEach { c =>
            if (c.getPath.toDotString == "event_id") {
              val st = c.getStatistics
              if (st != null && st.hasNonNullValue) {
                mn = math.min(mn, st.genericGetMin.asInstanceOf[java.lang.Long].longValue())
                mx = math.max(mx, st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
              }
            }
          }
        }
        (f.getPath.getName, mn, mx, cnt)
      } finally r.close()
    }.filter { case (_, mn, mx, _) => mn != Long.MaxValue && mx != Long.MinValue }
    if (rows.nonEmpty)
      rows.toDF("file", "min_id", "max_id", "rows")
        .coalesce(1).write.mode(SaveMode.Append).parquet(s"${root.toString}/$LogManifest")
  }

  /** Per-file `ts_us` facts from the write-time manifest — the grouped
    * store's analog of the reference's bounded reader skipping whole
    * blocks by time (bounded/reader.go): a ts-bounded ordered scan
    * prunes files whose recorded range cannot intersect the bound,
    * WITHOUT a footer round-trip per file (at object-store latency the
    * listing alone decides which files open at all). Columns:
    * `file` ("space=<dir>/<name>"), `min_ts`/`max_ts` (null when the
    * file has no non-null ts), `has_ts` (false = provably all-null),
    * `null_free` (true = provably no null ts; null = unknown). Read with
    * its fixed schema. None for stores written before this manifest
    * existed.
    */
  def tsRangeManifest(spark: SparkSession, path: String): Option[DataFrame] = {
    val m = new org.apache.hadoop.fs.Path(dataRoot(spark, path), TsRangeManifest)
    if (!m.getFileSystem(hconf(spark)).exists(m)) None
    else Some(spark.read.schema(TsRangeSchema).parquet(m.toString))
  }

  /** Ts-range rows for the files a write produced: ONE job with no
    * shuffle reads their footers in parallel on the executors, and the
    * driver writes the collected rows (one tiny row per file) as a new
    * part file — no Spark write job. Files whose footer stats cannot
    * PROVE a ts fact (stats missing/untyped) are simply omitted —
    * readers keep unknown files, so the manifest can only skip work,
    * never change results.
    */
  private def refreshTsRangeManifest(spark: SparkSession, root: String,
                                     written: Seq[(String, org.apache.hadoop.fs.Path)]): Unit = {
    if (written.isEmpty) return
    // session conf travels to the executors (object-store creds live
    // there — a bare new Configuration() would fail the footer opens)
    val serConf = new org.apache.spark.util.SerializableConfiguration(hconf(spark))
    val par = math.max(1, math.min(written.size, spark.sparkContext.defaultParallelism))
    val rows = spark.sparkContext
      .parallelize(written.map { case (rel, p) => (rel, p.toString) }, par)
      .flatMap { case (rel, phys) => tsFacts(serConf.value, rel, new org.apache.hadoop.fs.Path(phys)) }
      .collect()
    if (rows.isEmpty) return
    // dot-staged then renamed: an in-place append's live sidecar dir
    // never shows a half-written part
    val dir = new org.apache.hadoop.fs.Path(root, TsRangeManifest)
    val name = s"part-${java.util.UUID.randomUUID()}.parquet"
    val staged = new org.apache.hadoop.fs.Path(dir, s".$name")
    val w = graft.sources.EsdbRowParquetWriter.open(staged, TsRangeSchema, hconf(spark))
    try rows.foreach(w.write) finally w.close()
    if (!staged.getFileSystem(hconf(spark)).rename(staged, new org.apache.hadoop.fs.Path(dir, name)))
      throw new java.io.IOException(s"ts-range sidecar part rename failed at $dir")
  }

  /** One file's ts-range row from its footer: (file, min_ts, max_ts,
    * has_ts, null_free), or None when the stats prove nothing.
    */
  private def tsFacts(conf: org.apache.hadoop.conf.Configuration, rel: String,
                      file: org.apache.hadoop.fs.Path): Option[org.apache.spark.sql.catalyst.InternalRow] = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      var mn = Option.empty[Long]
      var mx = Option.empty[Long]
      var provable = true
      var sawTs = false
      // null_free: PROVEN zero null ts rows (numNulls set and 0 in
      // every block) — the license for time-retention to drop an
      // expired file whole without opening it (null ts fails every
      // comparison, so a null row must survive `ts_us < cutoff`)
      var nullFree = true
      r.getFooter.getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          if (c.getPath.toDotString == "ts_us") {
            sawTs = true
            val st = c.getStatistics
            if (st == null || !st.isNumNullsSet || st.getNumNulls > 0)
              nullFree = false
            if (st == null) provable = false
            else if (st.hasNonNullValue) st.genericGetMin match {
              case lo: java.lang.Long =>
                val hi = st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
                mn = Some(mn.fold(lo.longValue())(math.min(_, lo.longValue())))
                mx = Some(mx.fold(hi)(math.max(_, hi)))
              case _ => provable = false
            }
            else if (!(st.isNumNullsSet && st.getNumNulls == b.getRowCount))
              provable = false
          }
        }
      }
      if (!provable || !sawTs) None
      else Some(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(rel),
        mn.map(Long.box).orNull, mx.map(Long.box).orNull, mn.isDefined, nullFree))
    } finally r.close()
  }

  /** Bucketed layout: hash-bucket by `grouping`, sorted by (ts_us desc,
    * event_id) inside each bucket. Joins and aggregations keyed on
    * `grouping` between tables bucketed the same way are then
    * co-located — Catalyst plans them with NO exchange on either side,
    * which at 100 TB is the difference between a full-corpus shuffle
    * and a local merge. (Bucketing requires the table catalog, hence
    * `saveAsTable` rather than a bare path write.)
    */
  def writeBucketed(ev: DataFrame, tableName: String, numBuckets: Int = 64): Unit =
    ev.write
      .mode(SaveMode.ErrorIfExists)
      .bucketBy(numBuckets, "grouping")
      .sortBy("grouping", "ts_us", "event_id")
      .format("parquet")
      .saveAsTable(tableName)

  /** Open a written store through the ordering-aware DSv2 source
    * ([[graft.sources.EsdbStoreSource]]): scans see the write-time
    * (grouping, ts_us desc, event_id) layout as a reported ordering,
    * so `EventStore.scan`'s Sort is elided and orderBy-limit becomes a
    * pushed top-N — the reference's order-is-free-from-layout property
    * (event_block_writer.go:14-34). Use for ordered scans; analytical
    * full-store queries should prefer [[read]] (vectorized parquet).
    */
  def readOrdered(spark: SparkSession, path: String): DataFrame = {
    GraftSession.tune(spark)
    spark.read.format("esdb").load(path)
  }

  /** [[readOrdered]] pinned to an older committed version: valid while
    * the store's publish retention window ([[Publish.publish]]'s
    * `keepVersions`, [[Publish.vacuum]]) keeps that version's data; a
    * retired version fails loudly rather than reading different data.
    * A superseded version is frozen as of the publish that replaced it
    * (appends go to the current version), so the canonical uses are
    * reproducible re-reads and auditing a compaction against the exact
    * predecessor it rewrote.
    */
  def readOrderedAt(spark: SparkSession, path: String, version: Long): DataFrame = {
    GraftSession.tune(spark)
    spark.read.format("esdb").option("version", version).load(path)
  }

  /** Tail an OPEN store as a stream: every `append` batch becomes a
    * micro-batch — the streaming form of the reference's open-stream
    * reader (stream/open_stream.go), where readers observe the log as
    * writers extend it. Backed by the file stream source (new files
    * under the space directories are discovered per trigger; sidecars
    * and markers are `_`-hidden). The schema is pinned from the
    * current files, so at least one batch must exist.
    */
  def readTail(spark: SparkSession, path: String): DataFrame = {
    GraftSession.tune(spark)
    val root = dataRoot(spark, path)
    // NOTE (manifest carry): the file stream source discovers files
    // UNDER root only — history carried by `_CARRY` reference lives in
    // predecessor dirs and is not replayed by a tail stream. Appends
    // land physically in the current version dir, so tailing NEW data
    // is exact in every mode; a full-history replay on a
    // manifest-carried store should go through [[read]]/changesFeed.
    spark.readStream
      .schema(readFullWidth(spark, root).schema)
      .option("basePath", root)
      .parquet(root)
  }

  /** Open a written store; `basePath` keeps the `space` partition
    * column. Materialized `idx_*` columns (write-time secondary
    * indexes) are preserved for [[EventStore.scanIndex]] to use.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    GraftSession.tune(spark)
    val root = dataRoot(spark, path)
    // schema sidecar vs mergeSchema, single-dir vs manifest-carried
    // resolution: one code path for every layout ([[readFullWidth]])
    val df = readFullWidth(spark, root)
    // canonical columns lead; every other LOGICAL column (idx_*,
    // evolution-added) follows — only the bucket layout dir is hidden
    val lead = Seq("space", "grouping", "ts_us", "event_id", "value", "payload")
    val rest = df.columns.filterNot(c => lead.contains(c) || c == "bucket").toSeq
    df.select((lead ++ rest).map(col): _*)
  }

  /** Row-level change feed since version v — the CDC read that SURVIVES
    * rewrites: store rows + a `_change` column ("insert" rows appeared
    * after v, "delete" rows existed at v and are gone). Construction:
    * file names are UUID-fresh per write and never reused, so carried
    * files cancel by NAME for free; only the renamed remainder (the
    * rewrite footprint — appends, delete/update candidates, compacted
    * spaces) pays a row-level difference. Cost therefore tracks the
    * churn since v, not store size, except after a full compaction
    * (which renames everything — the honest price of a row-level diff
    * across a total rewrite). MULTISET semantics: duplicate identical
    * rows carry multiplicity, so deleting one of two equal rows feeds
    * exactly one delete and N equal inserts feed N rows — a consumer
    * replaying the feed reproduces the store even without a uniqueness
    * key. An UPDATE surfaces as delete(old row) + insert(new row).
    *
    * The difference is computed HASH-PROJECTED: each side map-side
    * aggregates to (row-hash, count) — only hashes and counts cross
    * the wire — the per-hash count deltas (churn-sized, broadcast)
    * then join back to pick |Δ| representative payload rows per hash,
    * so full payloads shuffle only for rows that actually appear in
    * the feed. After a total compaction with zero logical churn the
    * delta set is empty and NO payload bytes shuffle at all (the old
    * double-EXCEPT shuffled the whole store's payload twice).
    * Requires version v's snapshot and data dir to still be retained
    * (keepVersions) — the feed window IS the retention window.
    *
    * Probabilistic bound: rows are equated by a 96-bit composite key
    * (xxhash64 + 32-bit hash over all columns). Two DISTINCT rows
    * inside one feed window colliding on both hashes would cancel in
    * the delta and surface a wrong representative — by the birthday
    * bound, P(any collision) ≲ n²/2⁹⁷ ≈ 7e-12 for a billion-row
    * window, below hardware fault rates. Audits needing certainty pass
    * `exact = true` (streaming: `option("exactDiff", true)`) to route
    * the window through the EXCEPT ALL form this hash projection
    * replaced — bit-exact multiset difference, at the price of
    * shuffling both windows' full payloads.
    */
  def changesFeed(spark: SparkSession, path: String, sinceVersion: Long,
                  exact: Boolean = false): DataFrame =
    changesFeedBetween(spark, path, sinceVersion, None, exact)

  /** The feed's fixed schema: the store's full-width canonical columns
    * (minus the bucket layout dir) plus `_change` — what the streaming
    * change-feed source declares at query start.
    */
  def changesFeedSchema(spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val cur = dataRoot(spark, path)
    val target = readFullWidth(spark, cur).schema.fields.filterNot(_.name == "bucket")
    org.apache.spark.sql.types.StructType(target.toSeq :+
      org.apache.spark.sql.types.StructField("_change",
        org.apache.spark.sql.types.StringType, nullable = false))
  }

  /** [[changesFeed]] between two PINNED versions (`toVersion = None` =
    * the live head): the building block the streaming change-feed
    * source drains version ranges with. A window whose file diff shows
    * nothing removed is served by the pure-append fast path — added
    * files hold only new rows, so they stream out as inserts with no
    * diff machinery at all.
    */
  def changesFeedBetween(spark: SparkSession, path: String, fromVersion: Long,
                         toVersion: Option[Long], exact: Boolean = false): DataFrame = {
    GraftSession.tune(spark)
    val conf = hconf(spark)
    def snap(v: Long): Set[String] = Publish.snapshotFiles(conf, path, v).getOrElse(
      throw new IllegalStateException(
        s"version $v at $path has no file snapshot (published before " +
          "snapshots existed) — republish (compact) once to start recording them"))
    val since = snap(fromVersion)
    val live = toVersion.map(snap).getOrElse(Publish.currentFiles(conf, path))
    val addedNames = (live -- since).toSeq.sorted
    val removedNames = (since -- live).toSeq.sorted
    val cur = toVersion.map(v => Publish.resolveAt(conf, path, v))
      .getOrElse(dataRoot(spark, path))
    val sinceDir = Publish.resolveAt(conf, path, fromVersion)
    // both sides align to the CURRENT canonical width (pre-evolution
    // rows null-fill; widened columns up-cast) so EXCEPT compares rows,
    // not encodings
    val target = readFullWidth(spark, cur).schema.fields.filterNot(_.name == "bucket")
    def align(df: DataFrame): DataFrame =
      df.select(target.map(f =>
        (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType)).as(f.name)).toSeq: _*)
    def readRel(root: String, names: Seq[String]): DataFrame =
      if (names.isEmpty) align(readFullWidth(spark, cur).limit(0))
      else {
        // rel → physical: a manifest-carrying version serves carried
        // rels from predecessor host dirs, not its own
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val fsys = rootPath.getFileSystem(conf)
        val paths = Carry.resolvePaths(fsys, rootPath, names).map(_.toString)
        align(readFullWidth(spark, root, paths))
      }
    val added = readRel(cur, addedNames)
    val removed = readRel(sinceDir, removedNames)
    // pure-append window: nothing removed means no row disappeared and
    // no added file can re-encode an old row — every added row is an
    // insert, served directly (no hash aggregation, no join)
    if (removedNames.isEmpty) return added.withColumn("_change", lit("insert"))
    // audit mode: bit-exact multiset difference each way — no hash
    // equivalence in the loop at all; both windows' payloads shuffle
    if (exact)
      return added.exceptAll(removed).withColumn("_change", lit("insert"))
        .unionByName(removed.exceptAll(added).withColumn("_change", lit("delete")))
    // row identity = two independently-salted hash families over every
    // column (position literals interleaved so null placement can't
    // alias); 64+32 bits of two distinct algorithms — far beyond the
    // churn sizes a feed window holds
    val rowCols = target.map(_.name).toSeq
    val salted = rowCols.zipWithIndex.flatMap { case (c, i) => Seq(lit(i), col(c)) }
    // ONE tagged union of both windows: per row-hash, sum(±1) IS the
    // count delta (added − removed), so the former two count
    // aggregations + full-outer join collapse into a single hash
    // aggregation whose shuffle carries only (hash, ±1 partial sums) —
    // never payload bytes (r10's shape paid 2 groupBys + a full_outer
    // + 2 joins + 2 groupBys; this is 1 groupBy + 1 join + 1 groupBy)
    // r16 (guide §2.3, narrower shuffle/join keys): the two hash
    // families ride as TWO NUMERIC COLUMNS (8-byte long + 4-byte int)
    // instead of the former concat_ws(":", …) rendering — the same
    // 96 bits of identity without building a ~25-char string per row
    // on every side, and the delta aggregation + join compare fixed-
    // width integers instead of strings
    val tagged = added.withColumn("_side", lit(1L))
      .unionByName(removed.withColumn("_side", lit(-1L)))
      .withColumn("_h1", xxhash64(salted: _*))
      .withColumn("_h2", hash(salted: _*))
    val delta = tagged.groupBy("_h1", "_h2").agg(sum(col("_side")).as("_d"))
      .where(col("_d") =!= 0)
    // surplus hashes pull |Δ| representative rows from the surplus side
    // (equal-hash rows are identical, so first() per column is exact).
    // No broadcast hint: delta is churn-sized and unbounded (an
    // append-heavy window can be huge) — AQE converts to broadcast at
    // runtime whenever the delta actually is small (the zero-churn
    // compaction case), so payload rows cross the network only when
    // they appear in the feed; the sign filter drops the matched side
    // BEFORE the representative aggregation ever shuffles a payload
    tagged
      .join(delta, Seq("_h1", "_h2"))
      .where((col("_side") > 0) === (col("_d") > 0))
      .groupBy("_h1", "_h2", "_d")
      .agg(rowCols.map(c => first(col(c)).as(c)).head,
        rowCols.map(c => first(col(c)).as(c)).tail: _*)
      .withColumn("_rep", explode(sequence(lit(1L), abs(col("_d")))))
      .withColumn("_change", when(col("_d") > 0, lit("insert")).otherwise(lit("delete")))
      .select((rowCols :+ "_change").map(col): _*)
  }

  /** Clone a store at its current — or a pinned — version to a NEW
    * path, committed as the target's first version through the publish
    * pointer (crash-safe: a half-copied clone has no pointer and is
    * invisible). Everything in the version dir travels byte-for-byte —
    * data files, groupings/ts/schema manifests, `_SUBPARTS`/`_CLUSTER`
    * layout markers, and `_STREAM_COMMITS` epoch markers (a log
    * store's files are invisible without them) — so the clone scans,
    * mutates, and streams exactly like the source did at that version.
    * LOGICAL-root markers deliberately do NOT travel: the clone is
    * OPEN (no seal) and UNMANAGED (no `_POLICY`) — it is a new store,
    * not a second pointer to the old one. The `_FILES` snapshot is
    * regenerated by the clone's own publish.
    *
    * This is a real byte copy of one version on EVERY filesystem (the
    * price `compact` already pays; `FileUtil.copy` is client-side on
    * object stores too): a clone is a self-contained replica, so
    * manifest-carried files materialize physically rather than
    * referencing the source. Use it for what clones are for: dev/test
    * sandboxes
    * and destructive experiments against real data.
    */
  def cloneStore(spark: SparkSession, srcPath: String, dstPath: String,
                 version: Option[Long] = None): Unit = {
    val conf = hconf(spark)
    val src = version match {
      case Some(v) => Publish.resolveAt(conf, srcPath, v)
      case None => dataRoot(spark, srcPath)
    }
    val srcRoot = new org.apache.hadoop.fs.Path(src)
    val fs = srcRoot.getFileSystem(conf)
    require(fs.exists(srcRoot), s"nothing to clone at $srcPath")
    require(Publish.currentVersion(conf, dstPath).isEmpty &&
      !fs.exists(new org.apache.hadoop.fs.Path(dstPath)),
      s"clone target $dstPath already exists")
    def copyTree(from: org.apache.hadoop.fs.Path, to: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(from).foreach { st =>
        val n = st.getPath.getName
        // _CARRY references the SOURCE store's version dirs — a clone
        // is a self-contained replica, so carried files materialize
        // physically below instead of copying the manifest
        if (!n.startsWith(".") && n != Publish.SnapshotFile && n != Carry.ManifestFile) {
          if (st.isDirectory) {
            fs.mkdirs(new org.apache.hadoop.fs.Path(to, n))
            copyTree(st.getPath, new org.apache.hadoop.fs.Path(to, n))
          } else if (st.getLen > 0 || n.startsWith("_"))
            carryInto(fs, st.getPath,
              new org.apache.hadoop.fs.Path(to, n), conf)
        }
      }
    Publish.publish(conf, dstPath) { tmp =>
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      fs.mkdirs(tmpPath)
      copyTree(srcRoot, tmpPath)
      // manifest-carried files: physical copy into the clone at their
      // rel paths (cross-store manifest references are never written)
      val manifest = Carry.readManifest(fs, srcRoot)
      if (manifest.nonEmpty)
        Carry.dataFiles(fs, srcRoot).foreach { case (rel, st) =>
          if (manifest.contains(rel)) {
            val dst = new org.apache.hadoop.fs.Path(tmpPath, rel)
            fs.mkdirs(dst.getParent)
            carryInto(fs, st.getPath, dst, conf)
          }
        }
    }: Unit
  }

  /** Apply a change-feed batch to a REPLICA store — the consumer half
    * of [[changesFeed]], closing the CDC loop: `replica ∖ deletes ∪
    * inserts`, committed as one version. Feeding a replica of version
    * v every window of the source's feed reproduces the source exactly
    * (ChangesSpec proves the round trip across delete + update +
    * compaction), so a downstream cluster can follow a store without
    * re-reading it.
    *
    * Scale shape:
    *  - a pure-insert window takes the [[appendVersioned]] fast path
    *    (predecessor files carry byte-for-byte, O(batch + copies));
    *  - a window with deletes classifies replica files by the delete
    *    set's (space, event_id-range) footer stats — only files that
    *    may hold a deleted row rewrite, the rest carry;
    *  - the rewrite is `EXCEPT ALL` against the delete rows — multiset
    *    semantics end-to-end, so duplicate rows replicate with their
    *    multiplicity.
    *
    * DRIFT DETECTION: every delete row must remove exactly one replica
    * row. A count mismatch means the replica diverged from the feed's
    * source (manual edits, missed windows, wrong store) and throws
    * loudly instead of quietly compounding the divergence. Returns
    * (inserted, deleted).
    */
  def applyChanges(spark: SparkSession, path: String, feed: DataFrame,
                   keepVersions: Int = 2): (Long, Long) = {
    require(!isSealed(path), s"store at $path is sealed (immutable; no rewrites)")
    require(feed.columns.contains("_change"),
      "applyChanges takes a change feed (needs the _change column)")
    GraftSession.tune(spark)
    val conf = hconf(spark)
    // a feed column the replica lacks would otherwise be dropped by the
    // align below — inserts would silently lose its values and the
    // divergence only surfaces later as a drift exception on delete
    locally {
      val src0 = dataRoot(spark, path)
      val replicaCols = schemaManifest(conf, src0).map(_.fieldNames.toSet)
        .getOrElse(readFullWidth(spark, src0).schema.fieldNames.toSet)
      val extra = feed.columns
        .filterNot(c => c == "_change" || c == "bucket" || replicaCols.contains(c))
      require(extra.isEmpty,
        s"change feed carries column(s) [${extra.mkString(", ")}] the replica at " +
          s"$path lacks — ALTER the replica first (silently dropping them would " +
          "diverge the replica from the followed source)")
    }
    // the feed plan (typically an expensive two-version hash diff) is
    // consumed several times — counts, delete-stats agg, the EXCEPT ALL,
    // the drift count, the insert write: persist it for the apply's
    // duration, mirroring the footprint cache
    val fed = feed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val inserts0 = fed.where(col("_change") === "insert").drop("_change")
    val deletes0 = fed.where(col("_change") === "delete").drop("_change")
    val nDel = deletes0.count()
    val nIns = inserts0.count()
    if (nDel == 0 && nIns == 0) return (0L, 0L)
    if (nDel == 0) { appendVersioned(inserts0, path, keepVersions); return (nIns, 0L) }
    // head at listing time: the footprint classification and feed
    // caching below run long Spark jobs before the pointer commit — a
    // concurrent versioned commit in that window must conflict loudly
    val (headAtScan, src) = Publish.resolveWithVersion(conf, path)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    // footprint: only replica files whose (space, event_id range) stats
    // admit a deleted row rewrite; everything else carries by name
    val delStats = deletes0.agg(
      collect_set(col("space")), min(col("event_id")), max(col("event_id"))).head()
    val delSpaces = delStats.getSeq[String](0).toSet
    val filters: Seq[org.apache.spark.sql.sources.Filter] =
      if (delStats.isNullAt(1)) Nil
      else Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("event_id", delStats.getLong(1)),
        org.apache.spark.sql.sources.LessThanOrEqual("event_id", delStats.getLong(2)))
    val files: Seq[(String, org.apache.hadoop.fs.FileStatus, String)] =
      storeDataFiles(fs, srcPath)
    val classified = {
      import scala.collection.parallel.CollectionConverters._
      files.toVector.par.map { case (rel, f, sp) =>
        (rel, f, delSpaces.contains(sp) &&
          DeleteWhere.fileMayMatch(conf, f.getPath, Some(sp), filters))
      }.toVector
    }
    val (rewrite, carry) = classified.partition(_._3)
    val target = readFullWidth(spark, src).schema.fields.filterNot(_.name == "bucket")
    def align(df: DataFrame): DataFrame =
      df.select(target.map(f =>
        (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
        else lit(null).cast(f.dataType)).as(f.name, f.metadata)).toSeq: _*)
    Publish.publish(conf, path, keepVersions, expectedVersion = headAtScan) { tmp =>
      // the footprint feeds the diff AND the drift count: cache it so
      // the parquet scan happens once (churn-bounded, disk-spillable)
      val footprint =
        (if (rewrite.isEmpty) align(readFullWidth(spark, src).limit(0))
        else align(readFullWidth(spark, src, rewrite.map(_._2.getPath.toString))))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val kept = footprint.exceptAll(align(deletes0))
        // drift check: every delete must have consumed exactly one row
        val removed = (if (rewrite.isEmpty) 0L else footprint.count()) - kept.count()
        if (removed != nDel) throw new IllegalStateException(
          s"replica at $path diverged from the feed's source: $nDel delete row(s) " +
            s"matched only $removed replica row(s) — refusing to compound the drift")
        rewriteData(kept.unionByName(align(inserts0)), tmp, src,
          rewrite.map(_._2.getLen).sum, math.max(1L, classified.map(_._2.getLen).sum))
      } finally { footprint.unpersist(): Unit }
      carryData(fs, conf, path, new org.apache.hadoop.fs.Path(tmp),
        carry.map { case (rel, f, _) => rel -> f.getPath })
      // pairs change only where the window touched: the delete
      // footprint's spaces and wherever the inserted rows landed
      writeSidecars(spark, tmp, Rewritten(src, files))
      // committed streaming epochs must replay as no-ops after the rewrite
      carryStreamCommits(conf, src, tmp)
    }: Unit
    (nIns, nDel)
    } finally { fed.unpersist(): Unit }
  }
}
