package graft

import org.scalatest.funsuite.AnyFunSuite

/** Per-line measurement has ONE mechanism: in the main source exactly one
  * class extends `SparkListener` (in `graft.Metrics`), and listeners are
  * registered (`addSparkListener(`, `listenerManager.register(`) only
  * there. A harness that needs a new counter adds it to `Metrics`
  * instead of hand-rolling a listener. Comments and string literals are
  * stripped first, so a name in a scaladoc is not a site.
  */
class MetricsInventorySpec extends AnyFunSuite {
  import SourceScan.codeOnly

  private val Listener = """\b(?:extends|with|new)\s+(?:[\w.]+\.)?SparkListener\b""".r
  private val Register =
    """\baddSparkListener\s*\(|\blistenerManager\s*\.\s*register\s*\(""".r

  /** (SparkListener subclasses, listener registrations) in `src`. */
  private def sites(src: String): (Int, Int) = {
    val code = codeOnly(src)
    (Listener.findAllMatchIn(code).size, Register.findAllMatchIn(code).size)
  }

  test("the scanner counts listener classes and registrations in code only") {
    val src = "/** new SparkListener { } */\n" +
      "val l = new org.apache.spark.scheduler.SparkListener {\n" +
      "  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ()\n}\n" +
      "class B extends SparkListenerBus\n" +
      "sc.addSparkListener(l) // sc.addSparkListener(m)\n" +
      "spark.listenerManager.register(q); val s = \"listenerManager.register(q)\"\n"
    assert(sites(src) == ((1, 2)))
  }

  test("src/main has one SparkListener subclass, in graft.Metrics, and " +
    "registers listeners only there") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val found = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(p => root.relativize(p).toString.replace('\\', '/') ->
        sites(java.nio.file.Files.readString(p)))
      .filter { case (_, (n, regs)) => n > 0 || regs > 0 }
    assert(found == Seq("graft/Metrics.scala" -> ((1, 2))),
      s"listener classes and registrations (file -> (classes, registrations)): " +
        s"$found — a new counter belongs in graft.Metrics")
  }
}
