package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `graft.*` system property the engine reads is documented in the
  * README, and the README documents no property the engine does not
  * read: the set of `"graft.<name>"` literals under `src/main/scala`
  * equals the set of `-Dgraft.<name>` mentions in `README.md`. */
class DialInventorySpec extends AnyFunSuite {

  private val name = """graft\.[a-z0-9_]+(?:\.[a-z0-9_]+)*"""

  /** Property names read by the engine: `"graft.<name>"` literals. */
  private def sourceDials(root: Path): Set[String] = {
    val literal = ("\"(" + name + ")\"").r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { f =>
      literal.findAllMatchIn(Files.readString(f)).map(_.group(1))
    }.toSet
  }

  /** Property names the README documents: `-Dgraft.<name>` mentions. */
  private def readmeDials(readme: Path): Set[String] =
    ("-D(" + name + ")").r.findAllMatchIn(Files.readString(readme))
      .map(_.group(1)).toSet

  test("every graft.* property the engine reads is documented in README, and only those") {
    val src = sourceDials(Paths.get("src/main/scala"))
    val doc = readmeDials(Paths.get("README.md"))
    assert(src.nonEmpty, "no graft.* property literals found under src/main/scala")
    assert((src -- doc).isEmpty, s"read but undocumented in README: ${(src -- doc).toSeq.sorted}")
    assert((doc -- src).isEmpty, s"documented in README but never read: ${(doc -- src).toSeq.sorted}")
  }
}
