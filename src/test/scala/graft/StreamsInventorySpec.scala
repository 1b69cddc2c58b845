package graft

import org.scalatest.funsuite.AnyFunSuite

/** The streaming twins are declarations on ONE keyed-state fold: in the
  * main source exactly one class extends `StatefulProcessor`
  * (`streaming.KeyedFold`), and `.transformWithState(` is called only
  * inside the fold helper `Streams.keyedFold`. A new twin that copies
  * the scaffold (its own processor class or its own `transformWithState`
  * call) fails here; declare it through `keyedFold`/`barFold` instead.
  * Comments and string literals are stripped first, so a name in a
  * scaladoc is not a site.
  */
class StreamsInventorySpec extends AnyFunSuite {
  import SourceScan.codeOnly

  private val Processor = """\b(?:extends|new)\s+StatefulProcessor\b""".r
  private val Call = """\.\s*transformWithState\s*\(""".r
  private val Def = """\bdef\s+(\w+)""".r

  /** (processor subclasses, names of the defs enclosing each
    * `.transformWithState(` call) in `src`. */
  private def sites(src: String): (Int, Seq[String]) = {
    val code = codeOnly(src)
    val defs = Def.findAllMatchIn(code).map(m => (m.start, m.group(1))).toSeq
    val callers = Call.findAllMatchIn(code).map { c =>
      defs.filter(_._1 < c.start).lastOption.fold("<top level>")(_._2)
    }.toSeq
    (Processor.findAllMatchIn(code).size, callers)
  }

  test("the scanner counts processors and call sites in code only") {
    val src = "/** class P extends StatefulProcessor */\n" +
      "class Q extends StatefulProcessor[Long, Int, Int] {}\n" +
      "def keyedFold = ds.groupByKey(k)\n  .transformWithState(p)\n" +
      "def other = \"x.transformWithState(p)\" // y.transformWithState(p)\n"
    assert(sites(src) == ((1, Seq("keyedFold"))))
  }

  test("src/main has one StatefulProcessor subclass and one " +
    "transformWithState call site, inside Streams.keyedFold") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString.replace('\\', '/') ->
        sites(java.nio.file.Files.readString(p)))
      .filter { case (_, (n, calls)) => n > 0 || calls.nonEmpty }
    val processors = found.map(_._2._1).sum
    val calls = found.flatMap { case (f, (_, cs)) => cs.map(f -> _) }
    assert(processors == 1, s"$processors StatefulProcessor subclasses " +
      s"in ${found.map(_._1)} — a twin is a keyedFold declaration, not a " +
      "processor class")
    assert(calls == Seq("graft/streaming/Streams.scala" -> "keyedFold"),
      s"transformWithState call sites (file -> enclosing def): $calls")
  }
}
