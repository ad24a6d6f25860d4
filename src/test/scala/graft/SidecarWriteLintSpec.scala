package graft

import org.scalatest.funsuite.AnyFunSuite

/** The groupings, ts-range and log sidecars are written and read on the
  * driver, never by a Spark job. This spec keeps it so:
  *  - in `src/main`, no line that names one of the three sidecars
  *    (`GroupingsManifest`, `TsRangeManifest`, `LogManifest`, or their
  *    `_MANIFEST.*` directory names) also holds `.write`, `.parquet(`
  *    or `spark.read`;
  *  - in `src/main/scala/graft/engine`, sidecar parts are written only
  *    by `writeSidecarPart`: the one parquet writer the engine opens
  *    (`EsdbRowParquetWriter.open`) is opened there and nowhere else.
  */
class SidecarWriteLintSpec extends AnyFunSuite {

  private val Engine = java.nio.file.Paths.get("graft", "engine").toString + java.io.File.separator

  private val Sidecar = "\\b(?:GroupingsManifest|TsRangeManifest|LogManifest)\\b|_MANIFEST\\.(?:groupings|tsrange|log)\\b".r
  private val SparkIo = "\\.write\\b|\\.parquet\\s*\\(|\\bspark\\s*\\.\\s*read\\b".r

  /** "file:line" for every line naming a sidecar next to Spark IO.
    * Comments are blanked; string literals are kept, so an interpolated
    * sidecar path (`s"$root/$GroupingsManifest"`) still counts.
    */
  private def sparkSidecarIo(name: String, src: String): Seq[String] =
    SourceLint.withoutComments(src).split("\n", -1).toSeq.zipWithIndex.collect {
      case (l, i) if Sidecar.findFirstIn(l).isDefined && SparkIo.findFirstIn(l).isDefined =>
        s"$name:${i + 1}"
    }

  /** (line, enclosing def) of every `EsdbRowParquetWriter.open` in `src`. */
  private def writerOpens(src: String): Seq[(Int, String)] = {
    val s = SourceLint.code(src)
    val defs = "\\bdef\\s+(\\w+)".r.findAllMatchIn(s).map(m => m.start -> m.group(1)).toSeq
    "\\bEsdbRowParquetWriter\\s*\\.\\s*open\\b".r.findAllMatchIn(s).map { m =>
      SourceLint.line(s, m.start) -> defs.takeWhile(_._1 < m.start).lastOption.fold("")(_._2)
    }.toSeq
  }

  test("the detectors flag Spark sidecar IO and stray writers, and ignore comments") {
    val bad =
      """pairs.write.mode(SaveMode.Append).parquet(s"$root/$GroupingsManifest")
        |val rows = spark.read.schema(s).parquet(new Path(root, TsRangeManifest).toString)
        |df.coalesce(1).write.parquet(root + "/_MANIFEST.log")
        |def refresh(): Unit = {
        |  val w = graft.sources.EsdbRowParquetWriter.open(p, schema, conf)
        |}
        |def writeSidecarPart(): Unit = EsdbRowParquetWriter .open(p, schema, conf)
        |""".stripMargin
    assert(sparkSidecarIo("Bad.scala", bad) == Seq("Bad.scala:1", "Bad.scala:2", "Bad.scala:3"))
    assert(writerOpens(bad) == Seq(5 -> "refresh", 7 -> "writeSidecarPart"))
    val ok =
      """writeSidecarPart(conf, root, GroupingsManifest, PairsSchema, rows)
        |readSidecar(conf, root, LogManifest, LogManifestSchema)
        |// rows.write.parquet(s"$root/$TsRangeManifest") once ran a job
        |/** `spark.read` of the _MANIFEST.groupings parts */
        |ev.write.mode(SaveMode.Append).parquet(root)
        |""".stripMargin
    assert(sparkSidecarIo("Ok.scala", ok).isEmpty)
    assert(writerOpens(ok).isEmpty)
  }

  test("no Spark job reads or writes a sidecar, and the engine writes parts in one place") {
    val sources = SourceLint.mainSources
    val io = sources.flatMap { case (n, s) => sparkSidecarIo(n, s) }
    assert(io.isEmpty, s"read sidecars with readSidecar and write them with writeSidecarPart:\n${io.mkString("\n")}")
    val opens = sources.filter(_._1.startsWith(Engine)).flatMap { case (n, s) =>
      writerOpens(s).map { case (line, enclosing) => (n, line, enclosing) }
    }
    assert(opens.exists(_._3 == "writeSidecarPart"), s"writeSidecarPart should open the part writer: $opens")
    val stray = opens.filterNot(_._3 == "writeSidecarPart")
    assert(stray.isEmpty, "write sidecar parts through writeSidecarPart:\n" +
      stray.map { case (n, line, enclosing) => s"$n:$line in def $enclosing" }.mkString("\n"))
  }
}
