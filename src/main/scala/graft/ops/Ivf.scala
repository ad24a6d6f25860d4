package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to [[Similarity.annTopK]]'s LSH: a k-means coarse
  * quantizer partitions the corpus into `nLists` inverted lists; a
  * query probes only its `nProbe` nearest centroids' lists and scores
  * exact cosine inside them.
  *
  * Scale shape: centroids are tiny (nLists × dims) and broadcast; the
  * candidate join is an equi-join on the list id, so candidate volume
  * is corpus × (nProbe / nLists) per query with no pairwise explosion.
  *
  * Build/probe split: [[writeIndex]] persists the assignment as a
  * parquet table PARTITIONED BY the list id (plus the centroid table) —
  * built once, probed by every subsequent query, exactly like the
  * reference's write-once store amortizes its index build
  * (writer.go:26-85). At scale the partition layout means a probe's
  * `list` equi-join against broadcast probes dynamic-partition-prunes
  * to nProbe directories instead of scanning the corpus. [[ivfTopK]]
  * keeps an in-query build path for ad-hoc frames (and is what the
  * recall tests exercise against brute force).
  */
object Ivf {

  /** corpus → (vec_id, embedding, list) + the centroid table.
    *
    * `maxIter`/`initMode` tune quantizer quality vs build cost:
    * persisted indexes keep the 5-round k-means|| default; callers for
    * whom assignment quality is RESULT-IRRELEVANT (a full probe visits
    * every list) may pass the cheapest settings.
    */
  def buildIndex(corpus: DataFrame, nLists: Int = 16, seed: Long = 42L,
                 maxIter: Int = 5, initMode: String = "k-means||"): (DataFrame, DataFrame) = {
    val sp = corpus.sparkSession
    VectorFunctions.register(sp)
    val withVec = corpus.select(col("vec_id"), col("embedding"))
      .withColumn("fv", array_to_vector(transform(col("embedding"), x => x.cast("double"))))
    // 5 Lloyd iterations: the coarse quantizer only needs rough cells
    // (recall comes from nProbe, not centroid polish), and each KMeans
    // iteration is a full RDD pass — the dominant cost of index build
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(maxIter)
      .setInitMode(initMode)
      .setFeaturesCol("fv").setPredictionCol("list")
      .fit(withVec)
    val assigned = model.transform(withVec).select(col("vec_id"), col("embedding"), col("list"))
    import sp.implicits._
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat).toSeq) }
      .toSeq.toDF("list", "centroid")
    (assigned, centroids)
  }

  /** Persist a built index: `assigned` partitioned by list id (a probe
    * prunes to its nProbe directories), `centroids` beside it, committed
    * through the [[graft.engine.Publish]] version-pointer protocol: the
    * commit point is one small pointer object, so a crashed build never
    * leaves a half-index that [[ensureIndex]] would trust — on local
    * disk or on object stores with no atomic rename. A rebuild on the
    * same path commits the next version and retires the old one.
    */
  def writeIndex(corpus: DataFrame, path: String, nLists: Int = 16, seed: Long = 42L,
                 corpusPath: Option[String] = None,
                 recallTarget: Option[Double] = None): Unit = {
    val conf = corpus.sparkSession.sparkContext.hadoopConfiguration
    // stamp captured BEFORE the build, not at publish time: a corpus
    // mutation landing mid-build must not get the new version stamped
    // onto an index built from the old rows (the probe would then
    // trust a stale index). [[ensureIndexFor]] closes the remaining
    // window by pinning the data read to the stamped version itself.
    writeIndexStamped(corpus, path, nLists, seed,
      corpusPath.map(cp => corpusStamp(conf, cp)), recallTarget)
  }

  private def writeIndexStamped(corpus: DataFrame, path: String, nLists: Int,
                                seed: Long, stamp: Option[String],
                                recallTarget: Option[Double] = None): Unit = {
    val (assigned0, centroids0) = buildIndex(corpus, nLists, seed)
    val conf = corpus.sparkSession.sparkContext.hadoopConfiguration
    // RECALL CONTRACT: with a declared target, sample a query set from
    // the just-built index, measure recall@10 against the full probe at
    // doubling nProbe steps, and record the smallest nProbe meeting the
    // target — the OPERATING POINT stamped into the index that
    // [[defaultProbes]]-aware probes use instead of a blind constant.
    // Measured on the ACTUAL index (not a synthetic assumption), and
    // re-measured by every rebuild — maintain's refresh included.
    // the assignment feeds the recall probes AND the index write: hold
    // one persist across both so the corpus read + KMeans transform
    // runs once, not once per consumer
    val assigned = recallTarget.fold(assigned0)(_ =>
      assigned0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
    val recallSidecar: Option[String] = recallTarget.map { target =>
      require(target > 0.0 && target <= 1.0,
        s"recall_target must be in (0, 1], got $target")
      val curve = measureRecall(assigned, centroids0, nLists)
      val chosen = curve.find(_._2 >= target).map(_._1).getOrElse(nLists)
      val curveTxt = curve.map { case (np, r) => f"$np:$r%.4f" }.mkString(",")
      s"target=$target probes=$chosen curve=$curveTxt"
    }
    graft.engine.Publish.publish(conf, path) { tmp =>
      assigned.write.mode(SaveMode.ErrorIfExists).partitionBy("list").parquet(s"$tmp/assigned")
      centroids0.write.mode(SaveMode.ErrorIfExists).parquet(s"$tmp/centroids")
      def sidecar(name: String, content: String): Unit = {
        val f = new org.apache.hadoop.fs.Path(tmp, name)
        val out = f.getFileSystem(conf).create(f, false)
        try out.write(content.getBytes("UTF-8")) finally out.close()
      }
      sidecar(ParamsFile,
        s"lists=$nLists seed=$seed" +
          recallTarget.fold("")(t => s" recall=$t"))
      recallSidecar.foreach(sidecar(RecallFile, _))
      stamp.foreach(sidecar(StampFile, _))
    }: Unit
    } finally { if (recallTarget.isDefined) assigned.unpersist(): Unit }
  }

  /** recall@`k` vs the full probe at doubling nProbe steps, over a
    * deterministic ≤64-query sample of the index's own vectors. Cheap:
    * the sample is driver-bounded and each probe is a broadcast join.
    */
  private[graft] def measureRecall(assigned: DataFrame, centroids: DataFrame,
                                   nLists: Int, k: Int = 10): Seq[(Int, Double)] = {
    val sampled = {
      val s = assigned.where(pmod(xxhash64(col("vec_id")), lit(101)) === 7)
        .select("vec_id", "embedding").limit(64)
      if (s.limit(1).isEmpty) assigned.select("vec_id", "embedding").limit(64) else s
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def topk(nProbe: Int): Map[Long, Set[Long]] =
        probe(assigned, centroids, sampled, k, nProbe)
          .select("query_id", "neighbor_id").collect()
          .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val truth = topk(nLists)
      val steps = (Iterator.iterate(1)(_ * 2).takeWhile(_ < nLists).toSeq :+ nLists).distinct
      steps.map { np =>
        val got = if (np == nLists) truth else topk(np)
        val recall =
          if (truth.isEmpty) 1.0
          else truth.toSeq.map { case (q, t) =>
            got.getOrElse(q, Set.empty[Long]).intersect(t).size.toDouble / math.max(1, t.size)
          }.sum / truth.size
        np -> recall
      }
    } finally { sampled.unpersist(): Unit }
  }

  private val RecallFile = "_recall"

  /** The index's measured operating point: the smallest nProbe whose
    * build-time recall@10 met the declared `recall_target`. None for
    * indexes built without a contract — probes then default to the
    * caller's constant.
    */
  def defaultProbes(conf: org.apache.hadoop.conf.Configuration, path: String): Option[Int] = {
    val root = graft.engine.Publish.resolve(conf, path)
    rootText(conf, root, RecallFile).flatMap { txt =>
      txt.split("\\s+").collectFirst {
        case kv if kv.startsWith("probes=") =>
          scala.util.Try(kv.stripPrefix("probes=").toInt).toOption
      }.flatten
    }
  }

  /** The declared recall target recorded in the params sidecar (0.0 =
    * none) — what freshness compares so re-declaring a different
    * contract rebuilds and re-measures.
    */
  private def paramsRecall(text: String): Double =
    text.split("\\s+").collectFirst {
      case kv if kv.startsWith("recall=") =>
        scala.util.Try(kv.stripPrefix("recall=").toDouble).getOrElse(0.0)
    }.getOrElse(0.0)

  private val ParamsFile = "_build_params"

  private def rootText(conf: org.apache.hadoop.conf.Configuration,
                       root: String, name: String): Option[String] = {
    val f = new org.apache.hadoop.fs.Path(root, name)
    val fs = f.getFileSystem(conf)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  private def parseParams(text: String): Option[(Int, Long)] = {
    val kv = text.split("\\s+").flatMap(_.split('=') match {
      case Array(k, v) => Some(k -> v); case _ => None
    }).toMap
    for { l <- kv.get("lists"); sd <- kv.get("seed") } yield (l.toInt, sd.toLong)
  }

  /** One pointer resolution → (resolved data root, build stamp, build
    * params (lists, seed)). Reading every sidecar from the SAME
    * resolved root means a concurrent rebuild can never make a caller
    * observe a mix of two versions' metadata.
    */
  def indexMeta(conf: org.apache.hadoop.conf.Configuration, path: String):
      (String, Option[String], Option[(Int, Long)]) = {
    val (root, stamp, txt) = indexMetaRaw(conf, path)
    (root, stamp, txt.flatMap(parseParams))
  }

  /** [[indexMeta]] with the RAW params text (one read serves both the
    * (lists, seed) parse and the recall-contract compare).
    */
  private def indexMetaRaw(conf: org.apache.hadoop.conf.Configuration, path: String):
      (String, Option[String], Option[String]) = {
    val root = graft.engine.Publish.resolve(conf, path)
    (root, rootText(conf, root, StampFile),
      rootText(conf, root, ParamsFile))
  }

  private val StampFile = "_corpus_stamp"

  /** Identity of a publish-managed corpus at this instant: its current
    * version number + uuid-suffixed data dir name — unique per commit,
    * so ANY mutation (append, DELETE, MERGE, compaction, CDC apply)
    * moves the stamp. An unversioned path (plain parquet dir that never
    * published) has no commit history to stamp; staleness against it is
    * undetectable and reported as such.
    */
  def corpusStamp(conf: org.apache.hadoop.conf.Configuration, corpusPath: String): String =
    graft.engine.Publish.currentVersion(conf, corpusPath)
      .map { case (v, dir) => s"$v/$dir" }.getOrElse("unversioned")

  /** The corpus stamp a persisted index was built at, if it was built
    * with `corpusPath` (older / ad-hoc indexes are unstamped).
    */
  def indexStamp(conf: org.apache.hadoop.conf.Configuration, path: String): Option[String] =
    indexMeta(conf, path)._2

  /** Index present AND (when tied to a corpus) built at the corpus's
    * CURRENT version — the freshness predicate ensureIndex rebuilds on
    * and ivfTopKIndexed refuses on.
    */
  private def indexFresh(conf: org.apache.hadoop.conf.Configuration, path: String,
                         corpusPath: Option[String], nLists: Int, seed: Long,
                         recallTarget: Option[Double] = None): Boolean = {
    // ONE pointer resolution for existence + both sidecars: no
    // version-mixing under a concurrent rebuild, and one round trip
    // instead of three on the hot no-op path
    val (root, stamp, paramsTxt) = indexMetaRaw(conf, path)
    val params = paramsTxt.flatMap(parseParams)
    val centroids = new org.apache.hadoop.fs.Path(root, "centroids")
    centroids.getFileSystem(conf).exists(centroids) &&
      corpusPath.forall(cp => stamp.contains(corpusStamp(conf, cp))) &&
      // a re-request with DIFFERENT build params (lists OR seed) is a
      // rebuild, not a no-op — otherwise tuning silently does nothing
      // until the corpus happens to mutate (pre-sidecar indexes pass)
      params.forall(_ == (nLists, seed)) &&
      // a DIFFERENT declared recall contract is a rebuild (the
      // operating point must be re-measured) — but an OMITTED target
      // (None) keeps whatever contract the index records: re-running
      // without the argument must never silently discard a contract
      recallTarget.forall(t => paramsTxt.forall(paramsRecall(_) == t))
  }

  /** Build-if-absent — idempotent ACROSS drivers, not just within the
    * JVM: the `synchronized` only dedupes same-process callers; the
    * cross-driver guarantee comes from the publish pointer. When two
    * drivers race, both stage a build, exactly one pointer rename wins,
    * and the loser's "publish conflict" here means a COMPLETE index
    * committed first (the pointer is the commit) — so the loser adopts
    * it instead of retrying a redundant rebuild or failing a job whose
    * precondition just became true. A conflict with no index behind it
    * (a different writer publishing non-index content to this path) is
    * a real error and rethrows.
    *
    * VERSION TIE (r12): pass `corpusPath` when the corpus lives in a
    * publish-managed store — the build stamps the store's version into
    * the index, "build-if-absent" becomes "build-if-absent-or-stale",
    * and a DELETE/MERGE/compaction on the store triggers a rebuild
    * here instead of silently serving pre-mutation vectors. The
    * conflict-adoption rule tightens accordingly: a racing build is
    * adopted only if it is fresh for OUR corpus version. Caller
    * contract: `corpus` must read the store's CURRENT version (create
    * the frame after any mutations; a frame pinned to an older
    * version would be indexed under the newer stamp). For a build
    * that PINS the data to the stamped version by construction —
    * race-free against concurrent mutations — use [[ensureIndexFor]].
    */
  def ensureIndex(corpus: DataFrame, path: String, nLists: Int = 16, seed: Long = 42L,
                  corpusPath: Option[String] = None,
                  recallTarget: Option[Double] = None): Unit =
    synchronized {
      val conf = corpus.sparkSession.sparkContext.hadoopConfiguration
      if (!indexFresh(conf, path, corpusPath, nLists, seed, recallTarget)) {
        try writeIndex(corpus, path, nLists, seed, corpusPath, recallTarget)
        catch {
          case e: java.io.IOException if e.getMessage != null &&
              e.getMessage.startsWith("publish conflict") =>
            if (!indexFresh(conf, path, corpusPath, nLists, seed, recallTarget)) throw e
        }
      }
    }

  /** The race-free store-tied build: resolves the corpus store's
    * current (version, data dir) ONCE, reads the corpus from that
    * pinned dir, and stamps the index with exactly that version — the
    * stamp provably describes the rows that were indexed, no matter
    * what mutations land before, during, or after the build (a
    * mutation mid-build leaves the index stamped with the OLD version,
    * so stamped probes correctly refuse it). `project` maps the pinned
    * store frame to (vec_id, embedding) — e.g. decode the embedding
    * from the payload.
    */
  def ensureIndexFor(spark: SparkSession, corpusPath: String, path: String,
                     nLists: Int = 16, seed: Long = 42L,
                     recallTarget: Option[Double] = None)
                    (project: DataFrame => DataFrame): Unit = synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    if (!indexFresh(conf, path, Some(corpusPath), nLists, seed, recallTarget)) {
      val cur = graft.engine.Publish.currentVersion(conf, corpusPath)
      val stamp = cur.map { case (v, dir) => s"$v/$dir" }.getOrElse("unversioned")
      val pinnedRoot = cur
        .map { case (_, dir) => s"$corpusPath/${graft.engine.Publish.VersionsDir}/$dir" }
        .getOrElse(corpusPath)
      val corpus = project(graft.engine.EsdbWriter.read(spark, pinnedRoot))
      try writeIndexStamped(corpus, path, nLists, seed, Some(stamp), recallTarget)
      catch {
        case e: java.io.IOException if e.getMessage != null &&
            e.getMessage.startsWith("publish conflict") =>
          if (!indexFresh(conf, path, Some(corpusPath), nLists, seed, recallTarget)) throw e
      }
    }
  }

  /** Registry of the vector indexes DECLARED on a store: a `_VECIDX`
    * marker at the store's LOGICAL root (beside `_POLICY` — it survives
    * every versioned publish; clones copy only the resolved data dir,
    * so a clone starts unregistered). One tab-separated line per index:
    * `attr  nLists  seed  indexPath`. The declaration is what lets
    * [[graft.engine.Maintenance.maintain]] re-run [[ensureIndexFor]]
    * after its own commits — without it, every retention delete leaves
    * a probe-refusing stale index until a human rebuilds.
    */
  val RegistryMarker = "_VECIDX"

  final case class RegisteredIndex(attr: String, nLists: Int, seed: Long, indexPath: String,
                                   recallTarget: Double = 0.0)

  /** Declare (or re-declare, replacing the same attr's line) an index
    * on the store. Idempotent; called by `build_vector_index`.
    */
  def registerIndex(conf: org.apache.hadoop.conf.Configuration, storePath: String,
                    reg: RegisteredIndex): Unit = {
    require(!reg.attr.exists(c => c == '\t' || c == '\n') &&
      !reg.indexPath.exists(c => c == '\t' || c == '\n'),
      s"attr/index path must not contain tabs or newlines: $reg")
    // only write what registeredIndexes can read back — an unparseable
    // line would brick every later maintain() on this store
    require(reg.nLists >= 1 && reg.seed >= 0,
      s"registry entry must have nLists >= 1 and a non-negative seed: $reg")
    require(reg.recallTarget >= 0.0 && reg.recallTarget <= 1.0,
      s"registry entry recall target must be in [0, 1]: $reg")
    val entries = registeredIndexes(conf, storePath)
      .filterNot(_.attr == reg.attr) :+ reg
    val m = new org.apache.hadoop.fs.Path(storePath, RegistryMarker)
    val out = m.getFileSystem(conf).create(m, true)
    val txt = entries.map(r =>
        s"${r.attr}\t${r.nLists}\t${r.seed}\t${r.indexPath}\t${r.recallTarget}")
      .mkString("\n")
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  /** The store's declared indexes; empty when none. A corrupt marker
    * throws (the policy-marker philosophy: silently skipping would let
    * index freshness quietly stop being maintained).
    */
  def registeredIndexes(conf: org.apache.hadoop.conf.Configuration,
                        storePath: String): Seq[RegisteredIndex] = {
    val m = new org.apache.hadoop.fs.Path(storePath, RegistryMarker)
    val fs = m.getFileSystem(conf)
    if (!fs.exists(m)) Nil
    else {
      val in = fs.open(m)
      val txt = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8").trim
      finally in.close()
      txt.split("\n").toSeq.map(_.trim).filter(_.nonEmpty).map { line =>
        line.split("\t") match {
          case Array(attr, lists, seed, idxPath)
              if lists.forall(_.isDigit) && seed.forall(_.isDigit) =>
            RegisteredIndex(attr, lists.toInt, seed.toLong, idxPath) // legacy 4-field
          case Array(attr, lists, seed, idxPath, target)
              if lists.forall(_.isDigit) && seed.forall(_.isDigit) &&
                scala.util.Try(target.toDouble).isSuccess =>
            RegisteredIndex(attr, lists.toInt, seed.toLong, idxPath, target.toDouble)
          case _ => throw new IllegalStateException(
            s"unparseable vector-index registry at $m: line '$line'")
        }
      }
    }
  }

  /** The standard payload-JSON embedding projection (`vec_id` =
    * event_id, `embedding` = the float array under `attr`) — one
    * definition shared by the SQL procedures and maintenance refresh so
    * a refreshed index is built from exactly what the original was.
    */
  def payloadEmbedding(attr: String)(df: DataFrame): DataFrame =
    df.select(col("event_id").as("vec_id"),
      from_json(col("payload"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(attr,
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))(attr).as("embedding"))
      .where(col("embedding").isNotNull)

  /** Probe a persisted index: exact-cosine top-k over the probed lists
    * of the current version's `assigned`, never touching the raw corpus.
    *
    * Pass `corpusPath` to tie the probe to a publish-managed corpus:
    * the probe REFUSES (by default) an index whose recorded build stamp
    * is not the corpus's current version — i.e. the corpus mutated
    * since the build, and the index would serve pre-mutation vectors.
    * `allowStale = true` overrides for callers that accept bounded
    * staleness (e.g. probing during a rebuild window).
    */
  def ivfTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                     k: Int = 10, nProbe: Int = 4,
                     corpusPath: Option[String] = None,
                     allowStale: Boolean = false): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    corpusPath.foreach { cp =>
      val want = corpusStamp(conf, cp)
      val have = indexStamp(conf, path)
      if (!allowStale && !have.contains(want)) throw new IllegalStateException(
        s"IVF index at $path is stale for corpus $cp: built at " +
          s"${have.getOrElse("<unstamped>")}, corpus is now at $want — rebuild via " +
          "ensureIndex(corpusPath = ...) or pass allowStale = true")
    }
    val root = graft.engine.Publish.resolve(conf, path)
    val assigned = spark.read.option("basePath", s"$root/assigned").parquet(s"$root/assigned")
    val centroids = spark.read.parquet(s"$root/centroids")
    probe(assigned, centroids, queries, k, nProbe)
  }

  /** Exact-cosine top-k over the probed lists only (in-query index
    * build — ad-hoc frames and recall tests; persisted-index callers
    * go through [[ivfTopKIndexed]]).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
              nLists: Int = 16, nProbe: Int = 4): DataFrame = {
    // nProbe >= nLists visits EVERY list, so the result is provably
    // independent of the assignment (every (query, vector) pair is
    // scored; ties break on neighbor_id, never on list) — the quantizer
    // then runs at the cheapest settings instead of paying 2 k-means||
    // init passes + 5 Lloyd rounds for cells the probe ignores. The
    // KMeans fit was the dominant cost of the in-query full probe
    // (measured ~1.4s of a ~1.6s query at sf0.1); partial-probe callers
    // and the persisted-index build keep the quality defaults.
    val (assigned, centroids) =
      if (nProbe >= nLists) buildIndex(corpus, nLists, maxIter = 1, initMode = "random")
      else buildIndex(corpus, nLists)
    probe(assigned, centroids, queries, k, nProbe)
  }

  /** Shared probe plan: nProbe nearest centroids per query (centroid
    * table broadcast), then score only vectors in probed lists — the
    * corpus side streams straight into a broadcast hash join with no
    * exchange.
    */
  private def probe(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
                    k: Int, nProbe: Int): DataFrame = {
    VectorFunctions.register(assigned.sparkSession)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .withColumn("qn", Similarity.norm(col("qv")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").asc, col("list").asc)
    val probes = q.join(broadcast(centroids))
      .withColumn("cdist", -Similarity.dot(col("qv"), col("centroid"))
        / (col("qn") * Similarity.norm(col("centroid"))))
      .withColumn("pr", row_number().over(wProbe))
      .where(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("list"))
    val scored = assigned.withColumn("cn", Similarity.norm(col("embedding")))
      .join(broadcast(probes), Seq("list"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (Similarity.dot(col("qv"), col("embedding")) / (col("qn") * col("cn"))).as("cos"))
    Similarity.topK(scored, k) // heap aggregate, not a window sort
  }
}
