package graft

/** The source scanner shared by the inventory specs (WindowInventorySpec,
  * FacadeInventorySpec), which count call sites in Scala source text. */
object SourceScan {

  /** `src` with line and block comments dropped and string literals
    * (plain and triple-quoted) replaced by a placeholder, so a name
    * mentioned in a comment or an SQL string is not counted as a call
    * site. */
  def codeOnly(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(t: String) = src.startsWith(t, i)
    def skipTo(end: String): Unit = {
      val j = src.indexOf(end, i)
      i = if (j < 0) src.length else j + end.length
    }
    while (i < src.length) {
      if (at("//")) skipTo("\n")
      else if (at("/*")) { i += 2; skipTo("*/") }
      else if (at("\"\"\"")) { i += 3; skipTo("\"\"\""); out += 'S' }
      else if (at("\"")) {
        i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n')
          i += (if (src(i) == '\\') 2 else 1)
        i += 1
        out += 'S' // a literal argument stays an argument
      }
      // char literals that would otherwise open a string
      else if (at("'\"'")) i += 3
      else if (at("'\\\"'")) i += 4
      else { out += src(i); i += 1 }
    }
    out.toString
  }
}
