package graft

import org.scalatest.funsuite.AnyFunSuite

/** parquet-mr's `ParquetFileReader.open(inputFile)` and
  * `ParquetReader.builder(readSupport, path)` each parse a fresh Hadoop
  * `Configuration` (about 6 ms an open). Engine code opens parquet
  * files through [[graft.sources.ParquetFiles]], which passes the
  * caller's conf; this spec keeps those two calls out of `src/main`.
  */
class ParquetOpenLintSpec extends AnyFunSuite {

  /** Top-level argument count of the call whose `(` is at `open`. */
  private def arity(s: String, open: Int): Int = {
    var depth = 0
    var commas = 0
    var i = open
    var nonBlank = false
    while (i < s.length && !(depth == 1 && s(i) == ')')) {
      s(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 1 => commas += 1
        case c if depth >= 1 && !c.isWhitespace => nonBlank = true
        case _ =>
      }
      i += 1
    }
    if (nonBlank) commas + 1 else 0
  }

  /** "file:line call" for every conf-parsing open in `src`. */
  private def offenders(name: String, src: String): Seq[String] = {
    val s = SourceLint.code(src)
    def line(at: Int) = SourceLint.line(s, at)
    val opens = "ParquetFileReader\\s*\\.\\s*open\\s*\\(".r.findAllMatchIn(s)
      .filter(m => arity(s, m.end - 1) == 1)
      .map(m => s"$name:${line(m.start)} single-argument ParquetFileReader.open")
    val builders = "ParquetReader\\s*\\.\\s*builder\\s*\\(".r.findAllMatchIn(s)
      .map(m => s"$name:${line(m.start)} ParquetReader.builder")
    (opens ++ builders).toSeq
  }

  test("the detector flags both calls and ignores comments and two-argument opens") {
    val bad =
      """val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        |val b = org.apache.parquet.hadoop.ParquetReader.builder(new GroupReadSupport(), p)
        |""".stripMargin
    assert(offenders("Bad.scala", bad).size == 2)
    val ok =
      """// ParquetFileReader.open(file) parses a config
        |/** `ParquetReader.builder(rs, path)` too */
        |val r = ParquetFileReader.open(file, options(conf, path, f(x, y)))
        |val s = "ParquetFileReader.open(x)"
        |""".stripMargin
    assert(offenders("Ok.scala", ok).isEmpty)
  }

  test("src/main opens parquet files only with the caller's conf") {
    val files = SourceLint.mainSources
    assert(files.nonEmpty)
    val found = files.flatMap { case (name, src) => offenders(name, src) }
    assert(found.isEmpty,
      "open parquet files through graft.sources.ParquetFiles (it passes the caller's " +
        s"conf):\n${found.mkString("\n")}")
  }
}
