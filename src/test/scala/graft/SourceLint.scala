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

  /** Source with comments blanked and string literals kept, for rules
    * about what literals say (conf keys). One pass over strings and
    * comments, so a `//` inside a string stays.
    */
  def withoutComments(src: String): String =
    "\"\"\"(?s).*?\"\"\"|\"(?:\\\\.|[^\"\\\\\n])*\"|//[^\n]*|(?s)/\\*.*?\\*/".r
      .replaceAllIn(src, m => scala.util.matching.Regex.quoteReplacement(
        if (m.matched.startsWith("/")) m.matched.replaceAll("[^\n]", " ") else m.matched))

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
