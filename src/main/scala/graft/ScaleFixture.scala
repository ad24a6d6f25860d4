package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The 10× fixture: the fact tables of `SPARK_GRAFT_SF_DIR` (default
  * sf0.1) replicated ten times with their ids offset per copy, so keys
  * stay unique and cardinalities grow with volume, plus the dimension
  * tables copied unchanged (replicated facts keep their original foreign
  * keys). Prints one JSON line naming the fixture: each table's row
  * count and an order-insensitive content hash.
  *
  * 10× evidence is `Bench` at sf0.1 against `Bench` on this fixture:
  * `sbt "runMain graft.ScaleFixture"`, then
  * `SPARK_GRAFT_SF_DIR=/tmp/graft_scale sbt "runMain graft.Bench"`.
  */
object ScaleFixture {

  val Factor = 10
  // user_id is not offset: groupings keep their cardinality and grow in
  // length, the dominant real-world growth mode for an event store
  val Facts = Seq("events" -> "event_id", "documents" -> "doc_id",
    "embeddings" -> "vec_id", "lineitem" -> "l_orderkey")
  val Dims = Seq("orders", "customer", "part", "supplier", "nation", "region")

  /** Row count and content hash of one written table. */
  case class TableId(name: String, rows: Long, hash: String)

  /** Order-insensitive content hash: the sum of every row's xxhash64
    * over all columns, mod 2^64, as 16 hex digits.
    */
  def contentHash(df: DataFrame): String = {
    val total = df.agg(sum(xxhash64(df.columns.map(col).toSeq: _*)
      .cast("decimal(38,0)"))).head().getDecimal(0)
    val wrapped = Option(total).fold(BigInt(0))(t => BigInt(t.toBigInteger)) & ((BigInt(1) << 64) - 1)
    String.format("%016x", wrapped.bigInteger)
  }

  /** Writes the fixture for `sfDir` under `outDir`; returns each
    * table's identity, read back from what was written.
    */
  def build(spark: SparkSession, sfDir: String, outDir: String): Seq[TableId] = {
    def table(name: String) = engine.Tables.table(spark, sfDir, name)
    def write(df: DataFrame, name: String) =
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
    Facts.foreach { case (name, id) =>
      val df = table(name)
      val stride = df.agg(max(col(id))).head().getLong(0) + 1L
      write((0 until Factor).map(i => df.withColumn(id, col(id) + lit(i * stride)))
        .reduce(_ unionByName _), name)
    }
    Dims.foreach(name => write(table(name), name))
    (Facts.map(_._1) ++ Dims).map { name =>
      val df = engine.Tables.table(spark, outDir, name)
      TableId(name, df.count(), contentHash(df))
    }
  }

  /** The fixture's JSON line; `hash` names the whole fixture (the first
    * 16 hex digits of the SHA-256 of the per-table entries).
    */
  def json(sfDir: String, outDir: String, ids: Seq[TableId]): String = {
    val tables = ids.map(t => s""""${t.name}":{"rows":${t.rows},"hash":"${t.hash}"}""")
      .mkString("{", ",", "}")
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(tables.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    s"""{"fixture":"$outDir","source":"$sfDir","factor":$Factor,"hash":"$hash","tables":$tables}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = engine.GraftSession.local()
    val outDir = "/tmp/graft_scale"
    val ids = build(spark, sfDir, outDir)
    spark.stop()
    println(json(sfDir, outDir, ids))
  }
}
