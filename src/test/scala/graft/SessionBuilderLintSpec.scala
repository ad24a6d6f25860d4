package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every main runs on the session [[graft.engine.GraftSession.local]]
  * builds, so session confs live in one place; this spec keeps other
  * `SparkSession` builders out of `src/main`.
  */
class SessionBuilderLintSpec extends AnyFunSuite {

  private val Factory = java.nio.file.Paths.get("graft", "engine", "GraftSession.scala").toString

  /** "file:line" for every SparkSession builder in `src`. */
  private def builders(name: String, src: String): Seq[String] = {
    val s = SourceLint.code(src)
    "SparkSession\\s*\\.\\s*[Bb]uilder\\b".r.findAllMatchIn(s)
      .map(m => s"$name:${SourceLint.line(s, m.start)}").toSeq
  }

  test("the detector flags builders and ignores comments and strings") {
    val bad =
      """val a = SparkSession.builder().getOrCreate()
        |val b = new SparkSession
        |  .Builder().master("local[1]").getOrCreate()
        |""".stripMargin
    assert(builders("Bad.scala", bad) == Seq("Bad.scala:1", "Bad.scala:2"))
    val ok =
      """// SparkSession.builder() builds a session
        |/** `SparkSession.builder().withExtensions(...)` */
        |val s = "SparkSession.builder()"
        |val spark = graft.engine.GraftSession.local()
        |""".stripMargin
    assert(builders("Ok.scala", ok).isEmpty)
  }

  test("only engine/GraftSession.scala builds a SparkSession in src/main") {
    val (factory, rest) = SourceLint.mainSources.partition(_._1 == Factory)
    assert(factory.flatMap { case (n, s) => builders(n, s) }.size == 1,
      s"$Factory should hold the one session builder")
    val found = rest.flatMap { case (n, s) => builders(n, s) }
    assert(found.isEmpty,
      s"build sessions with graft.engine.GraftSession.local:\n${found.mkString("\n")}")
  }
}
