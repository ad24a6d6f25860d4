package graft

import org.scalatest.funsuite.AnyFunSuite

/** Footer statistics mean one thing engine-wide: what
  * [[graft.sources.ParquetFiles.facts]] says, with its one rule for a
  * missing statistic. This spec keeps other footer-statistic loops
  * (`getStatistics`, `.getBlocks`) out of `src/main`.
  */
class FooterStatsLintSpec extends AnyFunSuite {

  private val Reader = java.nio.file.Paths.get("graft", "sources", "ParquetFiles.scala").toString

  /** "file:line call" for every footer-statistic access in `src`. */
  private def loops(name: String, src: String): Seq[String] = {
    val s = SourceLint.code(src)
    "\\bgetStatistics\\b|\\.\\s*getBlocks\\b".r.findAllMatchIn(s)
      .map(m => s"$name:${SourceLint.line(s, m.start)} ${m.matched}").toSeq
  }

  test("the detector flags both calls and ignores comments and strings") {
    val bad =
      """r.getFooter.getBlocks.forEach { b =>
        |  b.getColumns.forEach(c => use(c.getStatistics))
        |}
        |""".stripMargin
    assert(loops("Bad.scala", bad) ==
      Seq("Bad.scala:1 .getBlocks", "Bad.scala:2 getStatistics"))
    val ok =
      """// r.getFooter.getBlocks walks the row groups
        |/** `c.getStatistics` may be empty */
        |val s = "footer.getBlocks and getStatistics"
        |val f = graft.sources.ParquetFiles.facts(conf, path)
        |""".stripMargin
    assert(loops("Ok.scala", ok).isEmpty)
  }

  test("only sources/ParquetFiles.scala reads footer statistics in src/main") {
    val (reader, rest) = SourceLint.mainSources.partition(_._1 == Reader)
    assert(reader.flatMap { case (n, s) => loops(n, s) }.nonEmpty,
      s"$Reader should hold the one footer-statistics loop")
    val found = rest.flatMap { case (n, s) => loops(n, s) }
    assert(found.isEmpty,
      s"read footer facts with graft.sources.ParquetFiles.facts:\n${found.mkString("\n")}")
  }
}
