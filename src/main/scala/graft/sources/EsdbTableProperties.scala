package graft.sources

import org.apache.hadoop.conf.Configuration

import graft.engine.{Carry, EsdbWriter, Maintenance, Publish}

/** SQL-discoverable introspection: everything the sidecar markers know
  * about a table, surfaced as TBLPROPERTIES so `SHOW TBLPROPERTIES` /
  * `DESCRIBE EXTENDED` answer layout/lifecycle questions without
  * spelunking `cat.t.policy` + `cat.t.clustering` + `_VECIDX` by hand.
  *
  * Computed from the markers at load time (the same reads the engine
  * itself does), so the map can never drift from what the engine will
  * actually do. Keys:
  *  - `layout` store|log; `version` the bound version number
  *  - `subparts`, `cluster.columns/.chunks/.curve` (bucketed layout)
  *  - `cdc`, `cdc.keepVersions` (tombstoned retention included)
  *  - `policy.*` for managed stores (Maintenance `_POLICY`)
  *  - `vecidx.<attr>` one line per declared vector index
  *  - `sealed` when the store is closed
  */
object EsdbTableProperties {

  def of(resolved: String,
         writePath: Option[String]): java.util.Map[String, String] = {
    val m = new java.util.LinkedHashMap[String, String]()
    try ofUnsafe(m, EsdbVectorReader.sessionConf(), resolved, writePath)
    catch {
      // introspection must never fail a DESCRIBE — including when no
      // active session exists to resolve a Hadoop conf from
      case e: Exception =>
        m.put("properties.error", String.valueOf(e.getMessage)): Unit
    }
    m
  }

  private def ofUnsafe(m: java.util.LinkedHashMap[String, String],
                       conf: Configuration, resolved: String,
                       writePath: Option[String]): Unit = {
    val resolvedPath = new org.apache.hadoop.fs.Path(resolved)
    val fs = resolvedPath.getFileSystem(conf)
    // the logical root holds the lifecycle markers; a version-pinned
    // load still finds it as the version dir's grandparent
    val logical = writePath.orElse(
      Carry.logicalRootOf(resolvedPath).map(_.toString)).getOrElse(resolved)
    def put(k: String, v: String): Unit = { m.put(k, v): Unit }
    try {
      val isLog = fs.exists(new org.apache.hadoop.fs.Path(resolved, EsdbWriter.LogManifest))
      put("layout", if (isLog) "log" else "store")
      Publish.currentVersionNumber(conf, logical)
        .foreach(v => put("version", v.toString))
      if (!isLog) {
        put("subparts", EsdbWriter.subpartsOf(conf, resolved).toString)
        val cl = EsdbWriter.clusterOf(conf, resolved)
        if (cl.cols.nonEmpty) {
          put("cluster.columns", cl.cols.mkString(","))
          put("cluster.chunks", cl.chunks.toString)
          put("cluster.curve", cl.curve)
        }
      }
      EsdbWriter.cdcMarkerState(conf, logical) match {
        case Some((enabled, keep)) =>
          put("cdc", enabled.toString)
          put("cdc.keepVersions", keep.toString)
        case None => put("cdc", "false")
      }
      Maintenance.policyOf(conf, logical).foreach { p =>
        p.retentionUs.foreach(r => put("policy.retention_us", r.toString))
        p.maxFilesPerSpace.foreach(f => put("policy.max_files_per_space", f.toString))
        put("policy.keep_versions", p.keepVersions.toString)
        p.reclusterOverlapX100.foreach(o => put("policy.recluster_overlap_x100", o.toString))
      }
      graft.ops.Ivf.registeredIndexes(conf, logical).foreach { r =>
        put(s"vecidx.${r.attr}",
          s"lists=${r.nLists} seed=${r.seed}" +
            (if (r.recallTarget > 0.0) s" recall_target=${r.recallTarget}" else "") +
            s" path=${r.indexPath}")
      }
      if (EsdbWriter.isSealed(logical)) put("sealed", "true")
    } catch {
      // a corrupt marker is surfaced as its own property
      case e: Exception => put("properties.error", String.valueOf(e.getMessage))
    }
  }
}
