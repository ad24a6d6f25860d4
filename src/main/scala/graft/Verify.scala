package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = engine.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // 4 queries in flight: Spark schedules concurrent jobs from separate
    // submitter threads, hiding per-query planning/JIT latency (outputs
    // are independent directories, so order does not matter)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val tasks = SparkEntry.queries.toSeq.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          // per-query cache scope: release THIS query's persisted
          // intermediates (dedup sigs, CC labels) once its output is on
          // disk, without evicting a concurrent query's mid-flight frames
          val scope = graft.ops.Caches.open()
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          } finally scope.release()
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    graft.ops.Caches.clear() // safety net: anything persisted outside a scope
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
