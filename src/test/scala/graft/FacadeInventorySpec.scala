package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Graft` is the public surface of what is called: every `def` in
  * it must be called as `Graft.<name>` by a test suite or by perfbench.
  * An operator nobody calls through the facade is reached by its
  * implementation name instead, so a new forward fails here until
  * something calls it. Comments and string literals are stripped first,
  * so a name in a scaladoc or a test title is not a call.
  */
class FacadeInventorySpec extends AnyFunSuite {
  import SourceScan.codeOnly

  private val DefName = """\bdef\s+(\w+)""".r
  private val FacadeCall = """\bGraft\s*\.\s*(\w+)""".r

  /** Names `def`ined in `facade` that no source in `callers` calls as
    * `Graft.<name>`. */
  private def uncalled(facade: String, callers: Seq[String]): Seq[String] = {
    val called = callers.flatMap(c =>
      FacadeCall.findAllMatchIn(codeOnly(c)).map(_.group(1))).toSet
    DefName.findAllMatchIn(codeOnly(facade)).map(_.group(1)).toSeq
      .filterNot(called)
  }

  private def sources(root: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => java.nio.file.Files.readString(p)).toSeq
  }

  test("the scanner counts calls in code only") {
    val facade = "object Graft {\n  /** def ghost */\n  def a = 1\n" +
      "  def b = 2\n  def c = 3\n}"
    val caller = "val x = Graft.a // Graft.b\nval y = \"Graft.c\"\n" +
      "val z = Graft\n  .c"
    assert(uncalled(facade, Seq(caller)) == Seq("b"))
  }

  test("every def in Graft.scala is called as Graft.<name> from src/test " +
    "or perfbench/src") {
    val facade = java.nio.file.Files.readString(
      java.nio.file.Paths.get("src/main/scala/graft/Graft.scala"))
    val callers = sources("src/test/scala") ++ sources("perfbench/src")
    assert(callers.nonEmpty)
    // the reference's endpoints and the session factory stay on the facade
    Seq("session", "snapshot", "history", "topWithOther").foreach(n =>
      assert(DefName.findAllMatchIn(codeOnly(facade)).exists(_.group(1) == n),
        s"Graft.$n is missing"))
    val dead = uncalled(facade, callers)
    assert(dead.isEmpty, s"${dead.size} Graft defs with no caller: " +
      s"${dead.mkString(", ")} — call the implementation directly, or " +
      "call the facade method from a test that pins it")
  }
}
