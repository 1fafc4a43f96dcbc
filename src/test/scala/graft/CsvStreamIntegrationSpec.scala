package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.model.Plan._
import graft.model.ValueKind._
import graft.sources.FileSources
import graft.streaming.IncrementalQuery

/** File source → attached maintained rule, end to end: a watched CSV
  * directory fans into per-attribute update streams, unioned into one
  * datom stream that a JOIN plan maintains incrementally — the streaming
  * shape of the reference's CsvFile source feeding a registered rule. */
class CsvStreamIntegrationSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("csv directory source drives a compiled join incrementally") {
    val dir = Files.createTempDirectory("graft_csv_stream").toFile
    dir.deleteOnExit()

    val sources = FileSources.streamCsv(
      spark, dir.getAbsolutePath,
      schemaDDL = "id STRING, name STRING, age STRING",
      eidOffset = 0,
      schema = Seq(":c/name" -> (1, KString), ":c/age" -> (2, KNumber)))
      .map { case (aid, df, _) => aid -> df }.toMap

    val kinds = Map(":c/name" -> KString, ":c/age" -> KNumber)
    val plan = Join(Seq(0), MatchA(0, ":c/name", 1), MatchA(0, ":c/age", 2))

    val delivered =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long, Long)]()
    val query = new IncrementalQuery(spark, plan, kinds)
      .attach(DatomStream.of(sources), "csv_join_out") { (_, df) =>
        df.collect().foreach(r =>
          delivered.add((r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))))
      }
    try {
      def rows(): Seq[(Long, String, Long, Long)] =
        delivered.toArray(Array.empty[(Long, String, Long, Long)]).toSeq

      Files.writeString(dir.toPath.resolve("batch1.csv"),
        "id,name,age\n1,alice,10\n2,bob,20\n")
      query.processAllAvailable()
      assert(rows().toSet == Set((1L, "alice", 10L, 1L), (2L, "bob", 20L, 1L)))

      // A second file joins against retained state, not just its own batch:
      // new name alicia meets the existing age 10, new age 11 meets both
      // names of entity 1.
      Files.writeString(dir.toPath.resolve("batch2.csv"),
        "id,name,age\n1,alicia,11\n")
      query.processAllAvailable()
      val later = rows().toSet -- Set((1L, "alice", 10L, 1L), (2L, "bob", 20L, 1L))
      assert(later == Set(
        (1L, "alicia", 10L, 1L),
        (1L, "alice", 11L, 1L),
        (1L, "alicia", 11L, 1L)))
    } finally query.stop()
  }
}
