package graft

import org.scalatest.funsuite.AnyFunSuite

/** The crash matrix's coverage guard: a FailPoint site no spec names
  * is a crash window that is named but never pinned by a kill-and-retry
  * case. */
class FailPointSpec extends AnyFunSuite {
  private def scalaSources(dir: String): Seq[(String, String)] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator())
      .asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.toString -> new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8))
    finally s.close()
  }

  test("every FailPoint site in src/main is named by a file under src/test") {
    val main = scalaSources("src/main")
    val sites = main.flatMap { case (f, txt) =>
      """FailPoint\.hit\("([^"]+)"\)""".r.findAllMatchIn(txt)
        .map(_.group(1) -> f)
    }
    // every call site passes a literal name, so none escapes the census
    assert(sites.size ==
      main.map(m => """FailPoint\.hit\(""".r.findAllMatchIn(m._2).size).sum)
    assert(sites.nonEmpty)
    val tests = scalaSources("src/test").map(_._2)
    val unarmed = sites.filterNot { case (site, _) =>
      tests.exists(_.contains("\"" + site + "\""))
    }
    assert(unarmed.isEmpty, "no spec names these FailPoint sites: " +
      unarmed.map { case (s, f) => s"$s ($f)" }.mkString(", "))
  }
}
