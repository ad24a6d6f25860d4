package graft

import org.scalatest.funsuite.AnyFunSuite

/** Both layouts read rows through one ordered merge reader, and scan
  * readers report their work as task metrics. This spec keeps it so:
  *  - in `src/main`, `ParquetFiles.records` is reached only from
  *    `sources/EsdbPartitionReader.scala` and from the sidecar reader
  *    (`readSidecar`) in `engine/EsdbWriter.scala`;
  *  - no file that defines a `PartitionReader` holds an `AtomicLong` or
  *    an `AtomicInteger`: a JVM-wide counter means something only in
  *    local mode, and every row pays its shared increment.
  */
class MergeReaderLintSpec extends AnyFunSuite {

  private def path(parts: String*): String = java.nio.file.Paths.get(parts.head, parts.tail: _*).toString
  private val Reader = path("graft", "sources", "EsdbPartitionReader.scala")
  private val Writer = path("graft", "engine", "EsdbWriter.scala")

  /** (line, enclosing def) of every `ParquetFiles.records` reference in `src`. */
  private def recordReads(src: String): Seq[(Int, String)] = {
    val s = SourceLint.code(src)
    val defs = "\\bdef\\s+(\\w+)".r.findAllMatchIn(s).map(m => m.start -> m.group(1)).toSeq
    "\\bParquetFiles\\s*\\.\\s*records\\b".r.findAllMatchIn(s).map { m =>
      SourceLint.line(s, m.start) -> defs.takeWhile(_._1 < m.start).lastOption.fold("")(_._2)
    }.toSeq
  }

  private def allowed(file: String, enclosing: String): Boolean =
    file == Reader || (file == Writer && enclosing == "readSidecar")

  /** "file:line name" for every atomic counter in a file that defines a
    * `PartitionReader`.
    */
  private def readerAtomics(name: String, src: String): Seq[String] = {
    val s = SourceLint.code(src)
    if ("\\b(?:extends|with)\\s+PartitionReader\\s*\\[".r.findFirstIn(s).isEmpty) Nil
    else "\\bAtomic(?:Long|Integer)\\b".r.findAllMatchIn(s)
      .map(m => s"$name:${SourceLint.line(s, m.start)} ${m.matched}").toSeq
  }

  test("the detectors flag calls and counters and ignore comments and strings") {
    val reads =
      """def scan(): Unit = {
        |  val r = graft.sources.ParquetFiles.records(conf, p)(s => (s, noop))
        |}
        |def readSidecar(): Unit = ParquetFiles .records(conf, p)(f)
        |// ParquetFiles.records(conf, p) in a comment
        |val s = "ParquetFiles.records(conf, p)"
        |""".stripMargin
    assert(recordReads(reads) == Seq(2 -> "scan", 4 -> "readSidecar"))
    assert(!allowed(Writer, "scan") && allowed(Writer, "readSidecar") && allowed(Reader, "open"))
    val reader =
      """final class R extends PartitionReader[InternalRow] {
        |  val rows = new java.util.concurrent.atomic.AtomicLong()
        |  /** an AtomicInteger in prose */
        |}
        |object R { val n = new AtomicInteger(0) }
        |""".stripMargin
    assert(readerAtomics("R.scala", reader) == Seq("R.scala:2 AtomicLong", "R.scala:5 AtomicInteger"))
    val scan =
      """final class S extends Scan { val listings = new AtomicLong() }
        |// extends PartitionReader[InternalRow] only in a comment
        |""".stripMargin
    assert(readerAtomics("S.scala", scan).isEmpty)
  }

  test("only the merge reader and the sidecar reader stream parquet records in src/main") {
    val found = SourceLint.mainSources.flatMap { case (n, s) =>
      recordReads(s).map { case (line, enclosing) => (n, line, enclosing) }
    }
    assert(found.exists(_._1 == Reader), s"$Reader should open its files with ParquetFiles.records")
    val stray = found.filterNot { case (n, _, enclosing) => allowed(n, enclosing) }
    assert(stray.isEmpty, "read rows through EsdbMergeReader or EsdbWriter.readSidecar:\n" +
      stray.map { case (n, line, enclosing) => s"$n:$line in def $enclosing" }.mkString("\n"))
  }

  test("no partition reader holds a JVM-wide atomic counter in src/main") {
    val found = SourceLint.mainSources.flatMap { case (n, s) => readerAtomics(n, s) }
    assert(found.isEmpty, s"report reader work as a task metric (EsdbMetrics):\n${found.mkString("\n")}")
  }
}
