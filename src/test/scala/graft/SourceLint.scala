package graft

/** Shared pieces of the source lint specs. */
object SourceLint {

  /** Source with comments and string literals blanked, so prose that
    * names a call is not flagged. Blanking keeps newlines, so offsets
    * map to the original lines.
    */
  def code(src: String): String = {
    def blank(re: String, s: String) =
      re.r.replaceAllIn(s, m => m.matched.replaceAll("[^\n]", " "))
    blank("\"\"\"(?s).*?\"\"\"", blank("(?s)/\\*.*?\\*/", src))
      .replaceAll("\"(?:\\\\.|[^\"\\\\\n])*\"", "\"\"")
      .replaceAll("//[^\n]*", " ")
  }

  /** 1-based line of offset `at` in `s`. */
  def line(s: String, at: Int): Int = s.substring(0, at).count(_ == '\n') + 1

  /** (path relative to src/main/scala, contents) of every main source. */
  def mainSources: Seq[(String, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    require(java.nio.file.Files.isDirectory(root), s"run from the repository root: $root")
    java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path]).filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString ->
        new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
  }
}
