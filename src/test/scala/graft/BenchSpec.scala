package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's driver-facing last line parses as JSON, fits the driver's
  * stdout tail at the real cell count, and its `queries` values add up
  * exactly to its `value`. */
class BenchSpec extends AnyFunSuite {

  private val cellNames: Seq[String] =
    ("a_shared_artifacts" +: SparkEntry.queries.keys.toSeq).sorted

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  private def cells(seed: Long, failed: Int): Seq[Bench.Cell] = {
    val rnd = new scala.util.Random(seed)
    val bad = rnd.shuffle(cellNames).take(failed).toSet
    cellNames.map { n =>
      if (bad(n)) Bench.Cell(n, -1.0,
        Some("boom \"quoted\"\nat graft." + n + " " + "x" * 400), Bench.Layers())
      else Bench.Cell(n, 0.05 + rnd.nextDouble() * 30.0, None, Bench.Layers())
    }
  }

  private def check(cs: Seq[Bench.Cell]): JsonNode = {
    val line = Bench.tailLine(cs, "/data/tpch/sf0.1")
    assert(line.length <= Bench.TailLimit, s"${line.length} chars: $line")
    val j = mapper.readTree(line)
    assert(Set("metric", "value", "unit", "queries", "errors", "sf") ==
      j.fieldNames().asScala.toSet)
    val qs = j.get("queries").fields().asScala.map(e => e.getKey -> e.getValue).toSeq
    assert(qs.map(_._1).contains("_other"))
    assert(qs.map(_._1).filter(_ != "_other").forall(cellNames.contains))
    val sum = qs.map(_._2.decimalValue()).foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
    assert(sum.compareTo(j.get("value").decimalValue()) == 0,
      s"queries sum $sum != value ${j.get("value")}")
    val expected = cs.filter(_.error.isEmpty).map(c => math.round(c.secs * 1000)).sum
    assert(j.get("value").decimalValue().compareTo(
      java.math.BigDecimal.valueOf(expected, 3)) == 0)
    j
  }

  test("tail line at the real 95 cells with failures: JSON, bounded, queries sum to value") {
    assert(cellNames.length == 95)
    val cs = cells(7L, failed = 4)
    val j = check(cs)
    val shown = j.get("queries").fieldNames().asScala.filter(_ != "_other").toSeq
    // The slowest successful cells are the ones shown, in full.
    val slowest = cs.filter(_.error.isEmpty)
      .sortBy(c => (-math.round(c.secs * 1000), c.name)).map(_.name)
    assert(shown.nonEmpty && shown == slowest.take(shown.length))
    assert(j.get("errors").fieldNames().asScala.toSet ==
      cs.filter(_.error.nonEmpty).map(_.name).toSet)
  }

  test("tail line stays bounded when most cells fail, and when none do") {
    val many = check(cells(11L, failed = 80))
    assert(many.get("errors").has("_n") || many.get("errors").size() == 80)
    val none = check(cells(13L, failed = 0))
    assert(none.get("errors").size() == 0)
  }
}
