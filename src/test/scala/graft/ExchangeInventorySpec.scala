package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The maintained layer nets its deltas through one path, the delta
  * exchange (`graft.kernel.Exchange`): no Spark by-key aggregation —
  * with its per-row size walks, aggregator shuffle and closure-cleaned
  * lambdas — appears under `src/main/scala/graft/streaming`. */
class ExchangeInventorySpec extends AnyFunSuite {

  private val banned = """\b(reduceByKey|combineByKey|aggregateByKey)\b""".r

  test("no reduceByKey, combineByKey or aggregateByKey under graft/streaming") {
    val root = Paths.get("src/main/scala/graft/streaming")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, s"no sources found under $root")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- banned.findFirstIn(line)
    } yield s"$f:${i + 1}: $m"
    assert(hits.isEmpty,
      s"by-key aggregation outside the delta exchange:\n${hits.mkString("\n")}")
  }
}
