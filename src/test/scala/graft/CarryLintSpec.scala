package graft

import org.scalatest.funsuite.AnyFunSuite

/** Kept files carry one way engine-wide ([[graft.engine.Carry]]): by
  * `_CARRY` reference through the Hadoop `FileSystem`, which every
  * store filesystem implements. This spec keeps local-disk shortcuts
  * (`java.nio.file.Files`) out of `src/main/scala/graft/engine/` and
  * the deleted carry-mode conf key out of `src/main`.
  */
class CarryLintSpec extends AnyFunSuite {

  private val Engine = java.nio.file.Paths.get("graft", "engine").toString + java.io.File.separator
  private val ModeKey = "\"graft.carry.mode\""

  /** "file:line match" for every `java.nio.file.Files` use in `src`:
    * fully qualified, or imported by name or wildcard.
    */
  private def nioFiles(name: String, src: String): Seq[String] = {
    val s = SourceLint.code(src)
    "java\\.nio\\.file\\.(?:Files\\b|_|\\{[^}]*\\bFiles\\b[^}]*\\})".r.findAllMatchIn(s)
      .map(m => s"$name:${SourceLint.line(s, m.start)} ${m.matched}").toSeq
  }

  /** "file:line" for every string literal naming the carry-mode key. */
  private def modeKeys(name: String, src: String): Seq[String] = {
    val s = SourceLint.withoutComments(src)
    java.util.regex.Pattern.quote(ModeKey).r.findAllMatchIn(s)
      .map(m => s"$name:${SourceLint.line(s, m.start)}").toSeq
  }

  test("the detectors flag uses and literals and ignore comments and strings") {
    val bad =
      """java.nio.file.Files.createLink(d, s)
        |import java.nio.file.{Paths, Files}
        |import java.nio.file._
        |conf.get("graft.carry.mode", "auto")
        |""".stripMargin
    assert(nioFiles("Bad.scala", bad) == Seq("Bad.scala:1 java.nio.file.Files",
      "Bad.scala:2 java.nio.file.{Paths, Files}", "Bad.scala:3 java.nio.file._"))
    assert(modeKeys("Bad.scala", bad) == Seq("Bad.scala:4"))
    val ok =
      """// java.nio.file.Files.createLink once hard-linked kept files
        |/** `graft.carry.mode` picked link or "graft.carry.mode" manifest */
        |val s = "java.nio.file.Files and // not a comment"
        |val e = classOf[java.nio.file.FileAlreadyExistsException]
        |org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
        |""".stripMargin
    assert(nioFiles("Ok.scala", ok).isEmpty)
    assert(modeKeys("Ok.scala", ok).isEmpty)
  }

  test("the engine carries through the Hadoop FileSystem and no carry mode is configurable") {
    val sources = SourceLint.mainSources
    assert(sources.exists(_._1.startsWith(Engine)), s"no sources under $Engine")
    val nio = sources.filter(_._1.startsWith(Engine)).flatMap { case (n, s) => nioFiles(n, s) }
    assert(nio.isEmpty, s"use the Hadoop FileSystem under $Engine:\n${nio.mkString("\n")}")
    val keys = sources.flatMap { case (n, s) => modeKeys(n, s) }
    assert(keys.isEmpty, s"kept files carry by _CARRY reference only:\n${keys.mkString("\n")}")
  }
}
