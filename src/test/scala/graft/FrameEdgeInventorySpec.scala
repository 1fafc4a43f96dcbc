package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A warm maintained advance plans no Catalyst query between feed and
  * drain: nodes take and return RDDs of signed tuples. A frame is built
  * or planned under `src/main/scala/graft/streaming` only at the edges
  * below, where rows leave the engine or enter it from a frame, each
  * converting once. A new `createDataFrame`, `queryExecution`, `rowsOf`
  * or `new Compiler` elsewhere fails here; the list is the remaining
  * work of moving those edges off Catalyst too. */
class FrameEdgeInventorySpec extends AnyFunSuite {

  private val planning = """\b(createDataFrame|queryExecution|rowsOf|new Compiler)\b""".r
  private val decl = """^\s*(?:private(?:\[\w+\])?\s+|final\s+|override\s+|lazy\s+)*(?:def|class|object|trait)\s+(\w+)""".r

  /** (file, enclosing definition) → why it may build or plan a frame. */
  private val edges: Map[(String, String), String] = Map(
    ("IncrementalQuery.scala", "frameOf") ->
      "rows leave the engine: sink frames and the frame-speaking advance",
    ("IncrementalQuery.scala", "deltaOf") ->
      "rows enter from a frame: static bulk feeds, streamed batches, frame advances",
    ("IncrementalQuery.scala", "attach") ->
      "a Structured Streaming batch gets its LastWriteWins sequence column",
    ("IncrementalQuery.scala", "HectorNode") ->
      "IncrementalHector speaks frames at its boundary",
    ("IncrementalQuery.scala", "generalRecursionNode") ->
      "recursive rules' signatures come from a batch probe compile",
    ("IncrementalQuery.scala", "RecursionNode") ->
      "recursion rounds compile their delta rules through the batch compiler",
    ("IncrementalHector.scala", "IncrementalHector") ->
      "delta terms outside the probe path compile through the batch Hector planner")

  /** Names of the definitions enclosing line `at`, innermost first, read
    * from indentation. */
  private def enclosing(lines: IndexedSeq[String], at: Int): List[String] = {
    def indent(l: String) = l.takeWhile(_ == ' ').length
    var limit = indent(lines(at))
    val out = List.newBuilder[String]
    var i = at - 1
    while (i >= 0 && limit > 0) {
      val l = lines(i)
      if (l.trim.nonEmpty && indent(l) < limit) {
        decl.findFirstMatchIn(l).foreach(m => out += m.group(1))
        limit = indent(l)
      }
      i -= 1
    }
    out.result()
  }

  test("frames are built or planned under graft/streaming only at the listed edges") {
    val root = Paths.get("src/main/scala/graft/streaming")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, s"no sources found under $root")
    val used = scala.collection.mutable.Set.empty[(String, String)]
    val hits = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/**")
      m <- planning.findFirstIn(line)
      names = enclosing(lines, i)
      allowed = names.map(n => (f.getFileName.toString, n)).filter(edges.contains)
      _ = used ++= allowed
      if allowed.isEmpty
    } yield s"$f:${i + 1}: $m (in ${names.mkString(" < ")})"
    assert(hits.isEmpty,
      s"frames built or planned off the listed edges:\n${hits.mkString("\n")}")
    val unused = edges.keySet -- used
    assert(unused.isEmpty, s"listed edges that no longer plan a frame: $unused")
  }
}
