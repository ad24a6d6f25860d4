package graft.engine

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
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
    * write job), then [[writeSidecars]] once, on the driver — the
    * written files' footers for the ts-range rows, and the (space,
    * grouping) pairs the write observed for the groupings rows.
    */
  def write(ev: DataFrame, path: String, indexAttrs: Seq[String] = Nil,
            subparts: Int = 1, clusterBy: Seq[String] = Nil,
            clusterChunks: Int = 8, assignFieldIds: Boolean = true,
            clusterCurve: String = "range"): Unit = {
    val pairs = writeData(ev, path, indexAttrs, subparts, clusterBy, clusterChunks,
      assignFieldIds, clusterCurve)
    writeSidecars(ev.sparkSession, path, Created(pairs))
  }

  /** The data half of [[write]]: lay the files out, then the layout
    * markers and the schema sidecar. Copy-on-write paths call it
    * directly and build their sidecars once, from the staged version.
    * Returns the distinct (space, grouping) pairs the write saw, with
    * those of `pairsOf` ([[writeLayout]]).
    */
  private def writeData(ev: DataFrame, path: String, indexAttrs: Seq[String],
                        subparts: Int, clusterBy: Seq[String], clusterChunks: Int,
                        assignFieldIds: Boolean, clusterCurve: String,
                        pairsOf: Option[DataFrame] = None): Seq[(String, String)] = {
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
    val cluster =
      if (clusterBy.isEmpty) Clustering.none else Clustering(clusterBy, clusterChunks, clusterCurve)
    val pairs = writeLayout(indexed, path, SaveMode.ErrorIfExists, subparts, cluster, pairsOf)
    if (subparts > 1) {
      val m = new org.apache.hadoop.fs.Path(path, SubpartsMarker)
      val out = m.getFileSystem(hconf(ev.sparkSession)).create(m, true)
      try out.write(subparts.toString.getBytes("UTF-8")) finally out.close()
    }
    writeClusterMarker(hconf(ev.sparkSession), path, cluster)
    writeSchemaManifest(hconf(ev.sparkSession), path, indexed.schema)
    pairs
  }

  /** Marks the rows of [[writeLayout]]'s `pairsOf` while they ride the
    * write's shuffle.
    */
  private val PairsOnly = "__pairs_only"

  /** The one data write of [[write]], [[append]] and every copy-on-write
    * rewrite: `indexed` repartitioned and sorted to the layout
    * ([[partitionForWrite]]) and written under `path`, a parquet bloom
    * filter on every secondary-index column. Returns the distinct
    * (space, grouping) pairs of the written rows, observed in the write
    * stage itself: past the shuffle, where a range partitioner's
    * sampling job never evaluates it, so the write runs no extra job.
    *
    * `pairsOf` holds (space, grouping) rows whose pairs must be returned
    * too without being written — a rewrite's carried files in a space
    * it also rewrote. They ride the same shuffle tagged and leave just
    * before the writer, so the written data never sees them and a write
    * whose own rows are all filtered out still reports their pairs (an
    * empty data stage would let adaptive execution drop the observation).
    */
  private def writeLayout(indexed: DataFrame, path: String, mode: SaveMode, subparts: Int,
                          cluster: Clustering, pairsOf: Option[DataFrame]): Seq[(String, String)] = {
    val seen = Observation()
    val tagged = pairsOf.fold(indexed)(p => indexed.withColumn(PairsOnly, lit(false))
      .unionByName(p.select(col("space"), col("grouping"), lit(true).as(PairsOnly)),
        allowMissingColumns = true))
    val (parted, partCols) = partitionForWrite(tagged, subparts, cluster)
    val observed = parted.observe(seen, collect_set(struct(col("space"), col("grouping"))))
    val rows =
      if (pairsOf.isEmpty) observed
      else FieldIds.decorate(observed.where(!col(PairsOnly)).drop(PairsOnly), indexed.schema)
    // parquet bloom filters on the secondary-index columns: min/max
    // stats can't skip row groups for high-cardinality point lookups
    // (values interleave across the sort order), blooms can — this is
    // the storage-level analog of the reference's per-index location
    // lists (space_writer.go:47-49), built by parquet instead of us
    indexed.columns.filter(_.startsWith("idx_"))
      .foldLeft(rows.write.mode(mode).partitionBy(partCols: _*)) { (w, c) =>
        w.option(s"parquet.bloom.filter.enabled#$c", "true")
      }.parquet(path)
    // a write that ran no data stage (no rows at all) reports no row
    val m = metricsOf(seen)
    if (m.length == 0) Nil
    else m.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getString(1)))
  }

  /** The metrics row of an [[Observation]] whose query has run: the
    * session's listener delivers it just after the query returns.
    */
  private def metricsOf(o: Observation): org.apache.spark.sql.Row =
    scala.concurrent.Await.result(o.future, scala.concurrent.duration.Duration(5, "min"))

  /** The data write of a copy-on-write rewrite: `rows` laid out under
    * the prior version's subpartitioning and clustering, the chunk
    * count scaled to the rewritten byte share ([[clusterChunksFor]]),
    * and no fresh field IDs stamped (carried files keep theirs).
    */
  private def rewriteData(rows: DataFrame, tmp: String, src: String,
                          subsetBytes: Long, totalBytes: Long,
                          pairsOf: Option[DataFrame]): Seq[(String, String)] = {
    val conf = hconf(rows.sparkSession)
    val cl = clusterChunksFor(clusterOf(conf, src), subsetBytes, totalBytes)
    writeData(if (rows.columns.contains("bucket")) rows.drop("bucket") else rows, tmp, Nil,
      subpartsOf(conf, src), cl.cols, math.max(1, cl.chunks), assignFieldIds = false, cl.curve,
      pairsOf)
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
      // files span version dirs (`_CARRY` references): vanilla
      // partition inference refuses sibling roots even with basePath,
      // so read the raw files and attach `space` per row from the file's
      // `space=` dir segment. `_metadata.file_path` is URI-encoded, so
      // the segment reads as the URI form of the escaped dir name; the
      // few segments that differ from their space map back through a
      // driver-built literal (no join, no job). The LAST '/space=' is the
      // partition dir even if the store PATH contains one: dir names
      // cannot contain '/'
      def segOf(p: String): Option[String] = {
        val i = p.lastIndexOf("/space=")
        Option.when(i >= 0)(p.substring(i + "/space=".length).takeWhile(_ != '/'))
      }
      val spaceOf: Map[String, String] = effFiles.flatMap { f =>
        val uri = new org.apache.hadoop.fs.Path(f).toUri
        segOf(uri.getRawPath).zip(segOf(uri.getPath)).map { case (raw, dir) =>
          raw -> graft.sources.EsdbStoreSource.unescapePathName(dir)
        }
      }.toMap
      if (spaceOf.isEmpty) schemaRead(Set.empty).parquet(effFiles: _*) // log layout
      else {
        val seg = substring_index(
          substring_index(col("_metadata.file_path"), "/space=", -1), "/", 1)
        val renamed = spaceOf.filter { case (k, v) => k != v }
        schemaRead(Set("space", "bucket")).parquet(effFiles: _*).withColumn("space",
          if (renamed.isEmpty) seg else coalesce(element_at(typedLit(renamed), seg), seg))
      }
    }
  }

  /** Current data root of a logical store path (see [[Publish]]): the
    * highest committed version dir, or the path itself for the legacy
    * direct layout every store starts with.
    */
  def dataRoot(spark: SparkSession, path: String): String =
    Publish.resolve(hconf(spark), path)

  /** Carry a rewrite's untouched DATA files into the staging dir — the
    * one place every copy-on-write operation prices its "kept" set.
    * Each file becomes one `_CARRY` line ([[Carry]]) referencing its
    * ORIGINAL physical host (the enumeration already yields physical
    * locations, so a file carried across ten versions still resolves in
    * one hop): commit cost O(changed files) on every filesystem, no
    * bytes moved. Files outside the store's `_versions` tree (legacy
    * direct layout, which the first publish retires) are copied once.
    */
  private[graft] def carryData(fs: org.apache.hadoop.fs.FileSystem,
                               conf: org.apache.hadoop.conf.Configuration,
                               logicalPath: String,
                               tmpPath: org.apache.hadoop.fs.Path,
                               entries: Seq[(String, org.apache.hadoop.fs.Path)]): Unit = {
    val root = new org.apache.hadoop.fs.Path(logicalPath)
    val (byRef, byCopy) = entries.map { case (rel, p) =>
      (rel, p, Carry.vdirOf(root, p))
    }.partition(_._3.isDefined)
    Carry.appendManifest(fs, tmpPath, byRef.map { case (rel, _, v) => rel -> v.get }.toMap)
    byCopy.foreach { case (rel, p, _) =>
      org.apache.hadoop.fs.FileUtil.copy(fs, p, fs,
        new org.apache.hadoop.fs.Path(tmpPath, rel), false, conf): Unit
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

  /** One live data file of a version: its path relative to the data
    * root, its status at its physical location, and its space — None
    * in the log layout, where `space` is a data column.
    */
  private final case class LiveFile(rel: String, status: org.apache.hadoop.fs.FileStatus,
                                    space: Option[String]) {
    def path: org.apache.hadoop.fs.Path = status.getPath
  }

  private def bytesOf(files: Seq[LiveFile]): Long = files.map(_.status.getLen).sum

  /** The version one copy-on-write step classifies, pinned at the head
    * the step publishes against: its data root and its live files in
    * the store's layout.
    */
  private final case class Version(root: String, conf: org.apache.hadoop.conf.Configuration,
                                   files: Seq[LiveFile]) {
    /** `among` split by footer stats into (may match `filters`,
      * provably cannot) — [[DeleteWhere.mayMatch]], no data pages.
      */
    def byStats(filters: Seq[org.apache.spark.sql.sources.Filter],
                among: Seq[LiveFile] = files): (Seq[LiveFile], Seq[LiveFile]) = {
      val may = DeleteWhere.mayMatch(conf, among.map(f => f.path -> f.space), filters)
      val (hit, miss) = among.zip(may).partition(_._2)
      (hit.map(_._1), miss.map(_._1))
    }
  }

  /** Writes a plan's new rows: given the rewritten files' full-width
    * read (None when the plan rewrites none; a thunk, so a plan whose
    * rows come from elsewhere never plans that read) and the layout's
    * writer, which it calls at most once — never, when the version
    * gains no rows.
    */
  private type Rows = (Option[() => DataFrame], DataFrame => Unit) => Unit

  /** What one copy-on-write step does to its [[Version]]: the live
    * files it rewrites and those it carries byte-for-byte (a file in
    * neither is dropped), and its new rows. `share` is the (rewritten,
    * total) bytes a clustered store scales its chunk count by — by
    * default the rewrite's share of the version.
    */
  private final case class Plan(rewrite: Seq[LiveFile], carry: Seq[LiveFile], rows: Rows,
                                share: Option[(Long, Long)] = None)

  /** Rows that are the rewritten files' rows through `f`. */
  private def mapped(f: DataFrame => DataFrame): Rows =
    (footprint, write) => footprint.foreach(read => write(f(read())))

  /** The one copy-on-write step behind every row-level mutation,
    * retention, incremental compaction, replica apply and log trim:
    * pin the head, list its live files, let `plan` classify them, and
    * publish one new version — the plan's rows written, the carried
    * files referenced ([[carryData]]), the committed
    * streaming epochs carried (a replayed epoch stays a no-op), the
    * sidecars derived. The publish is pinned to the listed head, so a
    * concurrent commit of any kind in between conflicts loudly instead
    * of being dropped from the new version. `plan` returning None is a
    * proven no-op: nothing publishes and the result is false.
    *
    * The store's layout decides the three steps that differ. A store
    * lists its `space=` files, writes through [[rewriteData]] under
    * its prior layout and derives its sidecars with [[writeSidecars]]
    * from the pairs the write observed. A space that loses a file
    * (rewritten or dropped) has its groupings rebuilt from those pairs,
    * so its carried files' (space, grouping) columns ride the write's
    * shuffle as `pairsOf`; when the plan writes no rows they still do,
    * through a write of zero rows.
    * A log (a version with a log manifest) lists its visible files,
    * writes `event_id`-range-partitioned sorted files, writes its log
    * manifest as one part (the prior's rows for the carried files plus
    * rows for the written ones) and unions the prior schema in.
    */
  private def copyOnWrite(spark: SparkSession, path: String, keepVersions: Int,
                          sealedMsg: String)(plan: Version => Option[Plan]): Boolean = {
    require(!isSealed(path), sealedMsg)
    GraftSession.tune(spark)
    val conf = hconf(spark)
    val (head, src) = Publish.resolveWithVersion(conf, path)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val fs = srcPath.getFileSystem(conf)
    val isLog = fs.exists(new org.apache.hadoop.fs.Path(srcPath, LogManifest))
    val files =
      if (isLog) LogCommits.visibleDataFiles(fs, srcPath).map(f => LiveFile(f.getPath.getName, f, None))
      else storeDataFiles(fs, srcPath).map { case (rel, f, sp) => LiveFile(rel, f, Some(sp)) }
    plan(Version(src, conf, files)) match {
      case None => false
      case Some(p) =>
        val carried = p.carry.map(_.rel).toSet
        val shrunk = files.filterNot(f => carried(f.rel)).flatMap(_.space).toSet
        Publish.publish(conf, path, keepVersions, expectedVersion = head) { tmp =>
          val pairsOf = Some(p.carry.filter(_.space.exists(shrunk))).filter(_.nonEmpty)
            .map(in => readFullWidth(spark, src, in.map(_.path.toString)))
          val tmpPath = new org.apache.hadoop.fs.Path(tmp)
          // a log's manifest dir is its layout marker, rows or not
          if (isLog) fs.mkdirs(new org.apache.hadoop.fs.Path(tmpPath, LogManifest))
          var pairs = Option.empty[Seq[(String, String)]]
          def storeWrite(rows: DataFrame): Unit = {
            val (subset, total) =
              p.share.getOrElse((bytesOf(p.rewrite), math.max(1L, bytesOf(files))))
            pairs = Some(rewriteData(rows, tmp, src, subset, total, pairsOf))
          }
          p.rows(Option.when(p.rewrite.nonEmpty)(() =>
            readFullWidth(spark, src, p.rewrite.map(_.path.toString))), { rows =>
            if (isLog)
              rows.repartitionByRange(rewritePartitions(spark, bytesOf(p.rewrite)), col("event_id"))
                .sortWithinPartitions(col("event_id"))
                .write.mode(SaveMode.Append).parquet(tmp)
            else storeWrite(rows)
          })
          if (pairs.isEmpty && !isLog) pairsOf match {
            case Some(read) => storeWrite(read.limit(0))
            case None => copyLayoutMarkers(fs, conf, src, tmp)
          }
          carryData(fs, conf, path, tmpPath, p.carry.map(f => f.rel -> f.path))
          carryStreamCommits(conf, src, tmp)
          if (isLog) {
            refreshLogManifest(spark, tmp, carriedRows(conf, src, LogManifest,
              LogManifestSchema, carried))
            unionPriorSchema(conf, src, tmp)
          } else writeSidecars(spark, tmp, Rewritten(src, files, shrunk, pairs.getOrElse(Nil)))
        }: Unit
        true
    }
  }

  /** Incremental compaction: rewrite ONLY spaces whose merge width
    * (data-file count) exceeds `maxFilesPerSpace`; carry already-
    * compact spaces into the new version verbatim. A full [[compact]]
    * re-encodes the entire store per run — write amplification that
    * grows with store size, not with append volume; here the rewrite
    * cost tracks the fragmented fraction, and each carried file costs
    * one `_CARRY` line ([[carryData]]) — no decode/sort/encode, no
    * bytes through the cluster. Relative file paths are preserved by
    * the carry, so the carried files' ts-range rows carry over as they
    * are. Same snapshot
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
    copyOnWrite(spark, path, keepVersions,
        s"store at $path is sealed (immutable; compaction is for open stores)") { v =>
      val (frag, keep) = v.files.groupBy(_.space).collect { case (Some(_), inSpace) => inSpace }
        .toSeq.partition(_.size > maxFilesPerSpace)
      // the fragmented spaces go through the standard write path: merge
      // width back to one file per space/bucket, blooms rebuilt, at the
      // declared chunk count (the byte share is the whole store's)
      Option.when(frag.nonEmpty)(Plan(frag.flatten, keep.flatten, mapped(identity),
        share = Some((1L, 1L))))
    }
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
    require(spaces.isDefined || groupings.isDefined,
      "unbounded delete: use truncate() to empty a store")
    copyOnWrite(spark, path, keepVersions, s"store at $path is sealed (immutable; no deletes)") { v =>
      val inScope: Set[String] = spaces.getOrElse(v.files.flatMap(_.space).toSet)
      // manifest-driven targeting: only spaces PROVEN to hold a doomed
      // grouping are rewritten; a store without a manifest conservatively
      // rewrites every in-scope space
      val affected: Set[String] = groupings match {
        case None => inScope
        case Some(gs) =>
          groupingPairs(v.conf, v.root) match {
            case Some(pairs) =>
              // SQL IN never matches a null grouping: null rows survive
              pairs.collect { case (sp, g) if g != null && gs.contains(g) => sp }.toSet
                .intersect(inScope)
            case None => inScope
          }
      }
      // a contradictory predicate (space='a' AND space='b') deletes
      // nothing, and the manifest may prove the delete a no-op
      if (spaces.exists(_.isEmpty) || groupings.exists(_.isEmpty) || affected.isEmpty) None
      else {
        val (hit, carry) = v.files.partition(_.space.exists(affected))
        val gs = groupings.map(_.toSeq).getOrElse(Nil)
        val subparts = subpartsOf(v.conf, v.root)
        val wantedBuckets: Option[Set[Int]] =
          if (groupings.isDefined && subparts > 1) Some(gs.map(bucketOf(_, subparts)).toSet)
          else None
        // whole-space deletes drop their files; within hit spaces, files
        // in a bucket no doomed grouping hashes to are carried
        val (rw, carryWithin) = (if (groupings.isDefined) hit else Nil).partition { f =>
          wantedBuckets.forall(bs =>
            !f.rel.contains("/bucket=") || bs.exists(b => f.rel.contains(s"/bucket=$b/")))
        }
        Some(Plan(rw, carry ++ carryWithin,
          mapped(_.filter(!col("grouping").isin(gs: _*) || col("grouping").isNull))))
      }
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
                      inclusive: Boolean = false, keepVersions: Int = 1): Unit =
    copyOnWrite(spark, path, keepVersions, s"store at $path is sealed (immutable; no deletes)") { v =>
      // per-file facts of the version being rewritten; null_free unknown
      // in rows appended before the column existed → false (conservative)
      val ranges: Map[String, TsRange] =
        tsRangeManifest(v.conf, v.root).map(_.toMap).getOrElse(Map.empty)
      def expired(ts: Long): Boolean = if (inclusive) ts <= cutoffUs else ts < cutoffUs
      // drop = whole range expired AND provably no null-ts rows (a null
      // fails every comparison, so null rows must survive any retention);
      // carry = whole range survives (or all null ts); rewrite =
      // straddles the cutoff, has unproven nulls, or unknown to the manifest
      val (drop, rest) = v.files.partition { f =>
        ranges.get(f.rel).exists(r => r.hasTs && r.nullFree && expired(r.maxTs))
      }
      val (carry, rewrite) = rest.partition { f =>
        ranges.get(f.rel).exists(r => !r.hasTs || !expired(r.minTs))
      }
      val survives =
        if (inclusive) col("ts_us").isNull || col("ts_us") > cutoffUs
        else col("ts_us").isNull || col("ts_us") >= cutoffUs
      // nothing expired: no version churn
      Option.when(drop.nonEmpty || rewrite.nonEmpty)(Plan(rewrite, carry, mapped(_.filter(survives))))
    }: Unit

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
    * pays. On a log store `space` is a data column, so its footer
    * stats participate like any other, and the rewrite keeps the
    * log's range-partitioned sorted layout.
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

  /** The store's active logical schema under a resolved data root: the
    * sidecar, else footer inference (legacy stores).
    */
  private def storeSchemaOf(spark: SparkSession, root: String): org.apache.spark.sql.types.StructType =
    FieldIds.active(schemaManifest(hconf(spark), root).getOrElse(readFullWidth(spark, root).schema))

  /** `df` as rows of `schema` minus the bucket layout dir: each column
    * cast to its stored type, absent ones null, field-ID metadata
    * carried.
    */
  private def alignTo(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(schema.fields.filterNot(_.name == "bucket").map { f =>
      (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType)).as(f.name, f.metadata)
    }.toSeq: _*)

  /** [[alignTo]] after re-deriving every idx_* column of `schema` from
    * the payload (the write-time index contract: the index is derived
    * data, so new rows can never carry a stale one).
    */
  private def reindexedTo(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame =
    alignTo(schema.fieldNames.filter(_.startsWith("idx_")).foldLeft(df) { (d, c) =>
      d.withColumn(c, EventFrame.attr(c.stripPrefix("idx_")))
    }, schema)

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
    require(keys.nonEmpty, "MERGE requires at least one key column")
    var counts = (0L, 0L)
    copyOnWrite(spark, path, keepVersions, s"store at $path is sealed (immutable; no rewrites)") { v =>
      val storeSchema = storeSchemaOf(spark, v.root)
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
      if (nSrc == 0) None
      else {
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
        val (rewrite, carry) = v.byStats(filters)
        counts = (0L, nSrc)
        Some(Plan(rewrite, carry, { (footprint, write) =>
          val inserts = reindexedTo(source, storeSchema)
          footprint match {
            case None => write(inserts)
            case Some(read) =>
              // ONE full outer join of the footprint with the source keys
              // (unique by the duplicate check) answers everything: target
              // rows with no source key are kept, matched target rows are
              // replaced (a key may match several — keys need not be a
              // target PK), and source keys with no target row are inserts.
              // The write counts both while it reads the join: observed
              // below a cache its first job materializes, so a range-
              // partitioned write's sampling pass cannot count a row twice
              // (churn-bounded, disk-spillable)
              val k = keys.indices.map(i => s"__merge_k$i")
              val keyed = source.select(keys.zip(k).map { case (c, a) => col(c).as(a) } :+
                lit(true).as("__merge_s"): _*)
              val tally = Observation()
              val cached = read()
                .withColumn("__merge_t", lit(true))
                .join(keyed, keys.zip(k).map { case (c, a) => col(c) === col(a) }.reduce(_ && _),
                  "full_outer")
                .observe(tally, count(when(col("__merge_t") && col("__merge_s"), lit(1))),
                  count(when(col("__merge_t").isNull, lit(1))))
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              try {
                write(cached.where(col("__merge_s").isNull).drop(k ++ Seq("__merge_t", "__merge_s"): _*)
                  .unionByName(inserts, allowMissingColumns = true))
                val m = metricsOf(tally)
                counts = (m.getLong(0), m.getLong(1))
              } finally { cached.unpersist(): Unit }
          }
        }))
      }
    }: Unit
    counts
  }

  /** Shared classifier of [[deleteWhere]] and [[updateWhere]]:
    * translate the conjunction, classify every live file by footer
    * stats (one parallel footer round, no data pages), and rewrite only
    * candidates through `transform` — a clustered store re-clusters the
    * rewritten slice at its byte share of the declared chunk count, so
    * the footprint stays proportional to selectivity in files AND in
    * output files. Returns false when stats proved the operation a
    * no-op (no version churn).
    */
  private def rewriteWhere(spark: SparkSession, path: String,
                           filters: Seq[org.apache.spark.sql.sources.Filter],
                           keepVersions: Int)
                          (transform: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Boolean = {
    val cond = DeleteWhere.translate(filters).getOrElse(
      throw new IllegalArgumentException(
        s"untranslatable predicate: ${filters.mkString(", ")}"))
    copyOnWrite(spark, path, keepVersions, s"store at $path is sealed (immutable; no rewrites)") { v =>
      val (rewrite, carry) = v.byStats(filters)
      Option.when(rewrite.nonEmpty)(Plan(rewrite, carry, mapped(transform(_, cond))))
    }
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
    * version the carry listing was taken at, so a concurrent commit of
    * ANY kind — including an append, whose files the stale listing
    * would otherwise silently drop rather than carry — also surfaces
    * as a conflict and retries.
    */
  private[graft] def replaceFootprint(spark: SparkSession, path: String,
                                      rewriteRels: Set[String],
                                      replacement: DataFrame,
                                      keepVersions: Int = 2): Unit =
    copyOnWrite(spark, path, keepVersions, s"store at $path is sealed (immutable; no rewrites)") { v =>
      val missing = rewriteRels -- v.files.map(_.rel).toSet
      if (missing.nonEmpty) throw new java.io.IOException(
        s"publish conflict: row-level operation footprint at $path is no longer " +
          s"current (${missing.size} scanned file(s) were rewritten underneath, " +
          s"e.g. ${missing.head}) — retry the statement against the new version")
      val (rewrite, carry) = v.files.partition(f => rewriteRels.contains(f.rel))
      val aligned = reindexedTo(replacement, storeSchemaOf(spark, v.root))
      Some(Plan(rewrite, carry, (_, write) => write(aligned),
        share = Some((math.max(1L, bytesOf(rewrite)), math.max(1L, bytesOf(v.files))))))
    }: Unit

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
              inclusive: Boolean = false, keepVersions: Int = 1): Unit =
    copyOnWrite(spark, path, keepVersions,
        s"stream at $path is closed (reference: closed_stream.go:48-50)") { v =>
      def expired(id: Long): Boolean = if (inclusive) id <= beforeId else id < beforeId
      val ranges = logManifestRanges(v.conf, v.root).getOrElse(Map.empty)
      val (dropCand, rest) = v.files.partition(f =>
        ranges.get(f.rel).exists { case (_, mx) => expired(mx) })
      val nullFree = dropCand.zip(graft.sources.ParquetFiles.factsOf(v.conf, dropCand.map(_.path)))
        .collect { case (f, facts) if facts.nullFree("event_id") => f }.toSet
      val (drop, dropUnproven) = dropCand.partition(nullFree)
      val (carry, straddle) = rest.partition(f =>
        ranges.get(f.rel).exists { case (mn, _) => !expired(mn) })
      val rewrite = straddle ++ dropUnproven
      val survives =
        if (inclusive) col("event_id").isNull || col("event_id") > beforeId
        else col("event_id").isNull || col("event_id") >= beforeId
      // nothing expired: no version churn
      Option.when(drop.nonEmpty || rewrite.nonEmpty)(Plan(rewrite, carry, mapped(_.filter(survives))))
    }: Unit

  /** Arbitrary-predicate row-level delete on a LOG store: the same
    * copy-on-write as [[deleteWhere]], which keeps a log's layout.
    */
  def deleteWhereLog(spark: SparkSession, path: String,
                     filters: Seq[org.apache.spark.sql.sources.Filter],
                     keepVersions: Int = 1): Unit =
    deleteWhere(spark, path, filters, keepVersions)

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
    * what [[writeSidecars]] carries, extends or rebuilds. `pairs` are
    * the distinct (space, grouping) pairs the publish's data write
    * observed ([[writeLayout]]).
    */
  private sealed trait SidecarChange
  /** [[write]]: the version holds only the files this write produced. */
  private final case class Created(pairs: Seq[(String, String)]) extends SidecarChange
  /** In-place append: `written` landed beside the version's files. */
  private final case class Appended(written: Seq[(String, org.apache.hadoop.fs.Path)],
                                    pairs: Seq[(String, String)]) extends SidecarChange
  /** Copy-on-write: the version was staged from `prior`, whose live
    * files were `priorFiles`. File names are write-unique, so a rel in
    * both listings was carried and the rest were written or removed.
    * `shrunk`: the spaces that lost a prior file; their carried files'
    * pairs are among `pairs`.
    */
  private final case class Rewritten(prior: String, priorFiles: Seq[LiveFile],
                                     shrunk: Set[String],
                                     pairs: Seq[(String, String)]) extends SidecarChange

  /** The one sidecar step of every publishing path, run once after its
    * data write (and, for a rewrite, after the carry), all on the
    * driver:
    *  - schema: a rewrite unions the prior version's sidecar in, so
    *    columns living only in carried files stay declared;
    *  - ts-range: one new part per publish ([[refreshTsRangeManifest]]):
    *    rows for the written files, plus, in a rewrite, the prior's rows
    *    for the carried ones (rel paths carry unchanged), so a rewritten
    *    version's sidecar is one part however long its history;
    *  - groupings: one new part of the observed pairs; a rewrite adds
    *    the prior's rows for the spaces that lost no file (all their
    *    files carried), so its sidecar is one part too. A version with
    *    no data files keeps no groupings sidecar, and a rewrite of a
    *    version without one writes none.
    */
  private def writeSidecars(spark: SparkSession, root: String, change: SidecarChange): Unit = {
    val conf = hconf(spark)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    def live = if (fs.exists(rootPath)) storeDataFiles(fs, rootPath) else Nil
    def writePairs(rows: Seq[org.apache.spark.sql.Row]): Unit =
      writeSidecarPart(conf, root, GroupingsManifest, PairsSchema, rows.distinct)
    def pairRows(pairs: Seq[(String, String)]) =
      pairs.map { case (sp, g) => org.apache.spark.sql.Row(sp, g) }
    change match {
      case Created(pairs) =>
        refreshTsRangeManifest(spark, root, live.map(f => f._1 -> f._2.getPath))
        writePairs(pairRows(pairs))
      case Appended(written, pairs) =>
        refreshTsRangeManifest(spark, root, written)
        if (written.nonEmpty) writePairs(pairRows(pairs))
      case Rewritten(prior, priorFiles, shrunk, pairs) =>
        unionPriorSchema(conf, prior, root)
        val files = live
        if (files.nonEmpty) {
          val before = priorFiles.map(_.rel).toSet
          val (kept, written) = files.partition(f => before(f._1))
          refreshTsRangeManifest(spark, root, written.map(f => f._1 -> f._2.getPath),
            carriedRows(conf, prior, TsRangeManifest, TsRangeSchema, kept.map(_._1).toSet))
          readSidecar(conf, prior, GroupingsManifest, PairsSchema).foreach { rows =>
            writePairs(rows.filterNot(r => shrunk(r.getString(0))) ++ pairRows(pairs))
          }
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

  /** The prior version's rows of the sidecar `name` for the files a
    * rewrite carried, read on the driver ([[readSidecar]]).
    */
  private def carriedRows(conf: org.apache.hadoop.conf.Configuration, prior: String,
                          name: String, schema: org.apache.spark.sql.types.StructType,
                          carried: Set[String]): Seq[org.apache.spark.sql.Row] =
    readSidecar(conf, prior, name, schema).getOrElse(Nil).filter(r => carried(r.getString(0)))

  /** The sidecars' fixed schemas: reads never infer them (no footer
    * job), and `null_free` is nullable so rows written before it
    * existed read null — "unknown", the conservative answer.
    */
  private val PairsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "space STRING, grouping STRING")
  private val TsRangeSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "file STRING, min_ts BIGINT, max_ts BIGINT, has_ts BOOLEAN, null_free BOOLEAN")

  /** The groupings sidecar — the analog of the reference's key index:
    * `Db.Iterate`/`Space.Iterate` are index-only reads there
    * (esdb.go:63-76, space.go:45-60), so enumeration here must not scan
    * event data either. Its (space, grouping) pairs under a resolved
    * data root, as stored (not distinct: readers distinct across
    * parts), read on the driver
    * ([[readSidecar]]); a null grouping reads as null. None for stores
    * written before manifests existed.
    */
  def groupingPairs(conf: org.apache.hadoop.conf.Configuration,
                    root: String): Option[Seq[(String, String)]] =
    readSidecar(conf, root, GroupingsManifest, PairsSchema)
      .map(_.map(r => (r.getString(0), r.getString(1))))

  /** Distinct (space, grouping) pairs of the store's current version;
    * None for stores written before manifests existed (callers fall
    * back to a data scan).
    */
  def manifestGroupings(spark: SparkSession, path: String): Option[Seq[(String, String)]] =
    groupingPairs(hconf(spark), dataRoot(spark, path)).map(_.distinct)

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
    // the files this append writes are the listing's new names (file
    // names are write-unique): two driver listings, no job
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(hconf(ev.sparkSession))
    def listed = if (fs.exists(rootPath)) storeDataFiles(fs, rootPath) else Nil
    val before = listed.map(_._1).toSet
    // manifest delta from the batch itself, observed by its write (not
    // a full-store re-read, which would make append cost grow with
    // store size)
    val pairs = writeLayout(indexed, root, SaveMode.Append, subparts, cluster, None)
    writeSidecars(ev.sparkSession, root, Appended(
      listed.collect { case (rel, st, _) if !before(rel) => rel -> st.getPath }, pairs))
    evolved.foreach(s => writeSchemaManifest(hconf(ev.sparkSession), root, s))
  }

  /** Append as a NEW immutable version (predecessor ∪ batch, staged
    * and pointer-committed): the concurrency-safe, snapshot-isolated
    * append — two racing appenders BOTH commit (the loser's closure
    * re-stages against the winner's head, [[Publish.publishRetrying]])
    * and the store's history gains one auditable version per batch.
    * Predecessor files CARRY without moving bytes, as `_CARRY`
    * references ([[carryData]]); cost O(batch write + carried-file
    * METADATA), never a store rewrite — so the version's `_FILES` diff is exactly
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
        val files = Carry.dataFiles(fs, src)
        fs.listStatus(src).foreach { s =>
          val n = s.getPath.getName
          // markers, the groupings and schema sidecars and the epoch
          // markers copy verbatim. Data (space dirs and the predecessor's
          // own _CARRY) carries by reference below: the resolved
          // enumeration re-points every file at its ORIGINAL host, so a
          // chain of versioned appends stays one-hop; the ts-range
          // sidecar is rewritten as one part. The snapshot is re-recorded
          // at commit. On a direct-layout store dataRoot == root, which
          // also holds the publish machinery (_ptr, _versions — the
          // latter contains the staging dir being filled right now) and
          // seal markers: copying those would recurse into the
          // destination, so every root-level entry that is not store
          // data stays behind, as do dot-staged leftovers.
          if (!n.startsWith("space=") && n != Carry.ManifestFile && n != TsRangeManifest &&
              n != Publish.SnapshotFile && n != Publish.PtrDir && n != Publish.VersionsDir &&
              !n.startsWith(SealMarker) && !n.startsWith("."))
            org.apache.hadoop.fs.FileUtil.copy(fs, s.getPath, fs,
              new org.apache.hadoop.fs.Path(dst, n), false, conf): Unit
        }
        carryData(fs, conf, path, dst, files.map { case (rel, st) => rel -> st.getPath })
        refreshTsRangeManifest(spark, tmp, Nil, carriedRows(conf, src.toString,
          TsRangeManifest, TsRangeSchema, files.map(_._1).toSet))
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
    val dir = new org.apache.hadoop.fs.Path(path, s"$SealMarker.tails")
    val parts = sidecarParts(dir.getFileSystem(hconf(spark)), dir).map(_.getPath.toString)
    if (parts.isEmpty) return None
    val side = spark.read.parquet(parts: _*)
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
    * the reference's index summary: one footer read per file, in
    * parallel on the driver ([[graft.sources.ParquetFiles.factsOf]]),
    * and no Spark job. A file whose ts_us range is unproven adds its
    * rows but no bounds.
    */
  def storeStats(spark: SparkSession, path: String): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dataRoot(spark, path))
    val fs = root.getFileSystem(hconf)
    val files = if (!fs.exists(root)) Nil else storeDataFiles(fs, root)
    val facts = graft.sources.ParquetFiles.factsOf(hconf, files.map(_._2.getPath))
    // spaces in Spark's string order (UTF-8 bytes), as `orderBy` sorts
    val rows = files.map(_._3).zip(facts).groupBy(_._1).toSeq
      .sortBy(g => org.apache.spark.unsafe.types.UTF8String.fromString(g._1)).map { case (space, group) =>
        val ts = group.flatMap(_._2.longRange("ts_us"))
        org.apache.spark.sql.Row(space, group.map(_._2.rows).sum,
          ts.map(_._1).minOption.map(Long.box).orNull, ts.map(_._2).maxOption.map(Long.box).orNull)
      }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StoreStatsSchema)
  }

  private val StoreStatsSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "space STRING, n_events BIGINT, min_ts_us BIGINT, max_ts_us BIGINT")

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
    writeSidecars(spark, root.toString, Appended(
      finalNames.map(rel => rel -> new org.apache.hadoop.fs.Path(root, rel)), pairs))
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
    * before manifests existed (readers keep every file). Read DIRECTLY
    * with parquet-mr — no Spark job. Scan planning calls this (listing
    * + manifest + footer probes happen before any task launches, so a
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
                      root: String): Option[Map[String, LogFileInfo]] =
    // rows landed in the schema later; old manifest part-files predate
    // it and read null there
    readSidecar(conf, root, LogManifest, LogManifestSchema).map(_.map { r =>
      r.getString(0) -> LogFileInfo(r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))
    }.toMap)

  private val LogManifestSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "file STRING, min_id BIGINT, max_id BIGINT, rows BIGINT")

  /** Every row of the sidecar directory `root/name`, read on the driver
    * with parquet-mr — no Spark job, so scan planning and the façade's
    * metadata answers never run a query inside another. Goes through
    * the Hadoop `FileSystem`; skips parts named `_…` or `.…` (markers,
    * and parts still dot-staged by a concurrent in-place append); reads
    * a column a part lacks (written before the column existed) as null,
    * so a nullable fact stays "unknown". Values follow `schema`'s types
    * (string, bigint, boolean). None when the sidecar does not exist.
    */
  def readSidecar(conf: org.apache.hadoop.conf.Configuration, root: String, name: String,
                  schema: org.apache.spark.sql.types.StructType): Option[Seq[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.types.{BooleanType, LongType, StringType}
    val dir = new org.apache.hadoop.fs.Path(root, name)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return None
    Some(sidecarParts(fs, dir).flatMap { part =>
      val recs = graft.sources.ParquetFiles.records(conf, part.getPath)(s =>
        (s, org.apache.parquet.filter2.compat.FilterCompat.NOOP,
          org.apache.parquet.filter2.compat.FilterCompat.NOOP))
      try {
        val idx = schema.fieldNames.map(c =>
          if (recs.schema.containsField(c)) recs.schema.getFieldIndex(c) else -1)
        Iterator.continually(recs.read()).takeWhile(_ != null).map { g =>
          org.apache.spark.sql.Row.fromSeq(schema.fields.indices.map { i =>
            val j = idx(i)
            if (j < 0 || g.getFieldRepetitionCount(j) == 0) null
            else schema.fields(i).dataType match {
              case StringType => g.getString(j, 0)
              case LongType => g.getLong(j, 0)
              case BooleanType => g.getBoolean(j, 0)
              case dt => throw new IllegalArgumentException(s"sidecar column type $dt")
            }
          })
        }.toVector
      } finally recs.close()
    })
  }

  /** The visible parts of a sidecar directory: markers (`_…`) and
    * parts still dot-staged by a concurrent in-place append (`.…`) are
    * not rows. A Spark read takes these paths, not the directory: its
    * file index treats a `_`-prefixed directory as hidden and warns.
    */
  private[graft] def sidecarParts(fs: org.apache.hadoop.fs.FileSystem,
                           dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && f.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Write `rows` (string, bigint and boolean values in `schema`) as one
    * new part of the sidecar directory `root/name`, on the driver — no
    * Spark job. Dot-staged, then renamed: an in-place append's live
    * sidecar dir never shows a half-written part. Nothing to write, no
    * part.
    */
  private def writeSidecarPart(conf: org.apache.hadoop.conf.Configuration, root: String,
                               name: String, schema: org.apache.spark.sql.types.StructType,
                               rows: Seq[org.apache.spark.sql.Row]): Unit = {
    if (rows.isEmpty) return
    val dir = new org.apache.hadoop.fs.Path(root, name)
    val part = s"part-${java.util.UUID.randomUUID()}.parquet"
    val staged = new org.apache.hadoop.fs.Path(dir, s".$part")
    val w = graft.sources.EsdbRowParquetWriter.open(staged, schema, conf)
    try rows.foreach { r =>
      w.write(org.apache.spark.sql.catalyst.InternalRow.fromSeq(r.toSeq.map {
        case v: String => org.apache.spark.unsafe.types.UTF8String.fromString(v)
        case v => v
      }))
    } finally w.close()
    if (!staged.getFileSystem(conf).rename(staged, new org.apache.hadoop.fs.Path(dir, part)))
      throw new java.io.IOException(s"sidecar part rename failed at $dir")
  }

  /** Extend the log manifest under `path`'s data root by one part: the
    * `carried` rows (a rewrite's prior rows for the files it kept) plus
    * one row per visible file no row covers yet, from its footer (append
    * cost stays proportional to the batch, not the log). Footers and the
    * known rows are read on the driver, and the part is written there.
    */
  private def refreshLogManifest(spark: SparkSession, path: String,
                                 carried: Seq[org.apache.spark.sql.Row] = Nil): Unit = {
    val conf = hconf(spark)
    val root = new org.apache.hadoop.fs.Path(dataRoot(spark, path))
    val fs = root.getFileSystem(conf)
    val known: Set[String] = logManifestRanges(conf, root.toString)
      .map(_.keySet).getOrElse(Set.empty) ++ carried.map(_.getString(0))
    // visibility-filtered: an uncommitted streaming batch's files must
    // not enter the manifest (they may be swept and rewritten on replay)
    val fresh = LogCommits.visibleDataFiles(fs, root)
      .filterNot(f => known.contains(f.getPath.getName))
    val facts = graft.sources.ParquetFiles.factsOf(conf, fresh.map(_.getPath))
    writeSidecarPart(conf, root.toString, LogManifest, LogManifestSchema,
      carried ++ fresh.zip(facts).flatMap { case (f, ff) =>
        ff.longRange("event_id").map { case (mn, mx) =>
          org.apache.spark.sql.Row(f.getPath.getName, mn, mx, ff.rows)
        }
      })
  }

  /** One file's `ts_us` facts: `hasTs` false = provably all-null (min
    * and max then 0); `nullFree` true = provably no null ts, false when
    * not proven or unknown (rows written before the column existed).
    */
  final case class TsRange(hasTs: Boolean, minTs: Long, maxTs: Long, nullFree: Boolean)

  /** Per-file `ts_us` facts from the write-time manifest under the
    * resolved data root `root`, as stored — the grouped store's analog of the
    * reference's bounded reader skipping whole blocks by time
    * (bounded/reader.go): a ts-bounded ordered scan prunes files whose
    * recorded range cannot intersect the bound, WITHOUT a footer
    * round-trip per file, and retention classifies files without
    * opening them. Keyed by "space=<dir>/<name>". Read on the driver
    * ([[readSidecar]]). None for stores written before this manifest
    * existed.
    */
  def tsRangeManifest(conf: org.apache.hadoop.conf.Configuration,
                      root: String): Option[Seq[(String, TsRange)]] =
    readSidecar(conf, root, TsRangeManifest, TsRangeSchema).map(_.map { r =>
      val hasTs = r.getBoolean(3)
      r.getString(0) -> TsRange(hasTs, if (hasTs) r.getLong(1) else 0L,
        if (hasTs) r.getLong(2) else 0L, !r.isNullAt(4) && r.getBoolean(4))
    })

  /** Extend the ts-range sidecar under `root` by one part: the
    * `carried` rows (a rewrite's prior rows for the files it kept) plus
    * one row per file the write produced (file, min_ts, max_ts, has_ts,
    * null_free), from footers read in parallel on the driver
    * ([[graft.sources.ParquetFiles.factsOf]], no Spark job). A file
    * whose footer cannot PROVE its ts range (stats missing or not
    * INT64) gets no row — readers keep unknown files, so the manifest
    * can only skip work, never change results. `null_free` is PROVEN
    * zero null ts rows: the license for time-retention to drop an
    * expired file whole without opening it (a null ts fails every
    * comparison, so a null row must survive `ts_us < cutoff`).
    */
  private def refreshTsRangeManifest(spark: SparkSession, root: String,
                                     written: Seq[(String, org.apache.hadoop.fs.Path)],
                                     carried: Seq[org.apache.spark.sql.Row] = Nil): Unit = {
    val facts = graft.sources.ParquetFiles.factsOf(hconf(spark), written.map(_._2))
    writeSidecarPart(hconf(spark), root, TsRangeManifest, TsRangeSchema,
      carried ++ written.zip(facts).flatMap { case ((rel, _), f) =>
        f.cols.get("ts_us").filter(c => c.rangeProven && (c.min.isEmpty || c.longRange.isDefined))
          .map { c =>
            val r = c.longRange
            org.apache.spark.sql.Row(rel, r.map(x => Long.box(x._1)).orNull,
              r.map(x => Long.box(x._2)).orNull,
              r.isDefined, f.nullFree("ts_us"))
          }
      })
  }

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
    // is exact; a full-history replay on a
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
            org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
              new org.apache.hadoop.fs.Path(to, n), false, conf): Unit
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
          if (manifest.contains(rel))
            org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
              new org.apache.hadoop.fs.Path(tmpPath, rel), false, conf): Unit
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
    require(feed.columns.contains("_change"),
      "applyChanges takes a change feed (needs the _change column)")
    // the feed plan (typically an expensive two-version hash diff) is
    // consumed several times — the feed stats, the EXCEPT ALL and the
    // insert write: persist it for the apply's duration
    val fed = feed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val inserts0 = fed.where(col("_change") === "insert").drop("_change")
      val deletes0 = fed.where(col("_change") === "delete").drop("_change")
      var counts = (0L, 0L)
      copyOnWrite(spark, path, keepVersions, s"store at $path is sealed (immutable; no rewrites)") { v =>
        // a feed column the replica lacks would otherwise be dropped by
        // the align below — inserts would silently lose its values and
        // the divergence only surfaces later as a drift exception
        val replicaCols = schemaManifest(v.conf, v.root).map(_.fieldNames.toSet)
          .getOrElse(readFullWidth(spark, v.root).schema.fieldNames.toSet)
        val extra = feed.columns
          .filterNot(c => c == "_change" || c == "bucket" || replicaCols.contains(c))
        require(extra.isEmpty,
          s"change feed carries column(s) [${extra.mkString(", ")}] the replica at " +
            s"$path lacks — ALTER the replica first (silently dropping them would " +
            "diverge the replica from the followed source)")
        // one pass over the feed: both counts, and the delete set's
        // spaces and event_id range
        val isDel = col("_change") === "delete"
        val stats = fed.agg(count_if(col("_change") === "insert"), count_if(isDel),
          collect_set(when(isDel, col("space"))),
          min(when(isDel, col("event_id"))), max(when(isDel, col("event_id")))).head()
        val nDel = stats.getLong(1)
        counts = (stats.getLong(0), nDel)
        // no deletes: nothing to rewrite (inserts append below)
        if (nDel == 0) None
        else {
          // footprint: only replica files whose (space, event_id range)
          // stats admit a deleted row rewrite; everything else carries
          val delSpaces = stats.getSeq[String](2).toSet
          val filters: Seq[org.apache.spark.sql.sources.Filter] =
            if (stats.isNullAt(3)) Nil
            else Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("event_id", stats.getLong(3)),
              org.apache.spark.sql.sources.LessThanOrEqual("event_id", stats.getLong(4)))
          val (inSpaces, outside) = v.files.partition(_.space.exists(delSpaces))
          val (rewrite, carry) = v.byStats(filters, inSpaces)
          val target = readFullWidth(spark, v.root).schema
          def drift(removed: Long) = new IllegalStateException(
            s"replica at $path diverged from the feed's source: $nDel delete row(s) " +
              s"matched only $removed replica row(s) — refusing to compound the drift")
          Some(Plan(rewrite, carry ++ outside, {
            case (None, _) => throw drift(0L) // no replica file may hold a deleted row
            case (Some(read), write) =>
              // drift check, counted by the write itself: every delete
              // must consume exactly one footprint row. Both counts are
              // observed; kept is cached so a range-partitioned write's
              // sampling pass cannot count it twice. A mismatch throws
              // before the closure returns, so nothing publishes
              val footprint = Observation()
              val left = Observation()
              val kept = alignTo(read(), target).observe(footprint, count(lit(1)))
                .exceptAll(alignTo(deletes0, target)).observe(left, count(lit(1)))
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              try {
                write(kept.unionByName(alignTo(inserts0, target)))
                val removed = metricsOf(footprint).getLong(0) - metricsOf(left).getLong(0)
                if (removed != nDel) throw drift(removed)
              } finally { kept.unpersist(): Unit }
          }))
        }
      }
      if (counts._2 == 0 && counts._1 > 0) appendVersioned(inserts0, path, keepVersions)
      counts
    } finally { fed.unpersist(): Unit }
  }
}
