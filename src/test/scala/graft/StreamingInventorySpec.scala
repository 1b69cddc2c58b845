package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.streaming` holds the quote tick and nothing else: every public
  * `def` of `object Streams` must be called as `Streams.<name>`, and every
  * public top-level type of the package named, from `src/main` outside
  * the package or from `perfbench/src`. A stream that no main and no
  * benchmark runs fails here, whatever its tests. Comments and string
  * literals are stripped first, so a name in a scaladoc or a test title
  * is not a call.
  */
class StreamingInventorySpec extends AnyFunSuite {
  import SourceScan.codeOnly

  /** A member of a top-level object: a `def` at two spaces' indent. */
  private val Member = """(?m)^  ((?:private|protected)\S*\s+)?def\s+(\w+)""".r
  private val TopType =
    """(?m)^((?:private|protected)\S*\s+)?(?:(?:final|sealed|abstract|case)\s+)*(?:class|object|trait)\s+(\w+)""".r
  private val StreamsCall = """\bStreams\s*\.\s*(\w+)""".r
  private val Word = """\w+""".r

  /** The public defs of `object Streams` and the public top-level types
    * declared in `pkg` (the package's sources). */
  private def surface(pkg: Seq[String]): (Seq[String], Seq[String]) = {
    val code = pkg.map(codeOnly)
    val defs = code.flatMap { c =>
      val at = c.indexOf("object Streams")
      if (at < 0) Nil
      else {
        val end = c.indexOf("\n}", at)
        Member.findAllMatchIn(c.substring(at, if (end < 0) c.length else end))
          .filter(_.group(1) == null).map(_.group(2)).toSeq
      }
    }
    val types = code.flatMap(c =>
      TopType.findAllMatchIn(c).filter(_.group(1) == null).map(_.group(2)))
    (defs, types)
  }

  /** The names in `pkg`'s surface that no source in `callers` reaches. */
  private def uncalled(pkg: Seq[String], callers: Seq[String]): Seq[String] = {
    val code = callers.map(codeOnly)
    val calledDefs = code.flatMap(c => StreamsCall.findAllMatchIn(c).map(_.group(1))).toSet
    val words = code.flatMap(c => Word.findAllIn(c)).toSet
    val (defs, types) = surface(pkg)
    defs.filterNot(calledDefs).map("Streams." + _) ++ types.filterNot(words)
  }

  /** (path, text) of every Scala source under `root`. */
  private def sources(root: String): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.toString.replace('\\', '/') -> java.nio.file.Files.readString(p))
  }

  test("the scanner finds public members and callers in code only") {
    val pkg = "/** def ghost */\nobject Streams {\n  def a = 1\n  def b = 2\n" +
      "  private def c = 3\n  def d = {\n    def local = 4\n    local\n  }\n}\n" +
      "final class Used\ncase class Unused(x: Int)\nprivate class Hidden\n"
    val caller = "val x = Streams.a // Streams.b\nval y = \"Streams.d\"\n" +
      "val z = Streams\n  .d\nnew Used\n/** Unused */"
    assert(surface(Seq(pkg)) == ((Seq("a", "b", "d"), Seq("Streams", "Used", "Unused"))))
    assert(uncalled(Seq(pkg), Seq(caller)) == Seq("Streams.b", "Unused"))
  }

  test("every public def of Streams and every public type of " +
    "graft.streaming has a caller in src/main or perfbench/src") {
    val dir = "src/main/scala/graft/streaming/"
    val (inPkg, rest) = sources("src/main/scala").partition(_._1.contains(dir))
    val pkg = inPkg.map(_._2)
    val callers = rest.map(_._2) ++ sources("perfbench/src").map(_._2)
    val (defs, types) = surface(pkg)
    // the tick's entry points stay: the scanner must see them
    assert(defs.contains("startQuoteStream") && defs.contains("quoteSnapshot") &&
      types.contains("SnapshotFanout"), s"defs $defs, types $types")
    val dead = uncalled(pkg, callers)
    assert(dead.isEmpty, s"${dead.size} graft.streaming names with no caller: " +
      s"${dead.mkString(", ")} — a stream that nothing runs is not kept")
  }
}
