package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Portable
import graft.pipeline.{Dedup, Similarity, TextAnalysis}

/** Unit coverage for the round-7 pipeline additions: span/block/paragraph
  * duplication, incremental exact dedup (both the broadcast-set and the
  * bloom-prefilter regimes), and semantic dedup over embeddings.
  */
class PipelineExtrasSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hp(docs: Seq[(Long, String)]) =
    docs.toDF("id", "text").select(col("id"),
      Portable.tokenHashPairs(col("text")).as("_hp"))

  test("spanHashes: sliding windows vs blocks vs short texts") {
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val df = hp(Seq((1L, ten), (2L, "a b")))
      .select(col("id"),
        org.apache.spark.sql.functions.size(
          Portable.spanHashes(col("_hp"), 4, 1)).as("sliding"),
        org.apache.spark.sql.functions.size(
          Portable.spanHashes(col("_hp"), 4, 4)).as("blocks"))
    val got = df.collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2)))).toMap
    // 10 tokens: 7 sliding 4-windows; blocks at 1,5,9 (last partial).
    assert(got(1L) == ((7, 3)))
    // 2 tokens < n: one whole-text window either way.
    assert(got(2L) == ((1, 1)))
  }

  test("spanDuplicationFromHp: shared runs found at different offsets") {
    val d1 = "a b c d e f g h i j"           // windows [a..h] [b..i] [c..j]
    val d2 = "z z a b c d e f g h w"         // shares [a..h] at offset 3
    val d3 = "p q r s t u v w x y"           // unique
    val got = Dedup.spanDuplicationFromHp(hp(Seq((1L, d1), (2L, d2), (3L, d3))), 8)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((3L, 1L)))
    assert(got(2L) == ((4L, 1L)))
    assert(got(3L) == ((3L, 0L)))
  }

  test("spanDuplicationFromGroups: identical rows to the direct scan") {
    // Replicated + near-dup corpus: replicas share every span (their
    // group size lifts the cross-doc flag even for spans unique to the
    // text); the shifted doc shares one 4-run with the base.
    val base = Seq(
      "a b c d e f",       // replicated 3x
      "z z a b c d",       // shares the a-b-c-d run, replicated 2x
      "p q r s t u")       // unique
    val docs = base.zipWithIndex.flatMap { case (t, i) =>
      (0 to (2 - i).max(0)).map(r => (i * 10L + r, t))
    }.toDF("doc_id", "text")
    val groups = docs
      .select(col("doc_id").cast("long").as("id"), col("text"))
      .groupBy(org.apache.spark.sql.functions.md5(col("text")).as("digest"))
      .agg(org.apache.spark.sql.functions.min(col("id")).as("rep"),
        org.apache.spark.sql.functions.first(col("text")).as("text"))
      .select(col("digest"), col("rep"),
        Portable.tokenHashPairs(col("text")).as("_hp"))
    val members = docs.select(col("doc_id").cast("long").as("id"),
      org.apache.spark.sql.functions.md5(col("text")).as("digest"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = rows(Dedup.spanDuplicationFromHp(
      hp(docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq), 4))
    val exactFirst = rows(Dedup.spanDuplicationFromGroups(
      groups, members, 4, 1, "nspans", "ndup"))
    assert(exactFirst == direct)
    // Replicated docs: every span cross-doc duplicated (ndup == nspans).
    assert(direct.collect { case (id, ns, nd) if id < 10 => ns == nd }
      .forall(identity))
  }

  test("spanDuplication: within-doc repetition alone is not duplication") {
    // Doc 1 repeats its own 4-token run twice; no other doc shares it.
    val d1 = "a b c d a b c d"
    val got = Dedup.spanDuplicationFromHp(hp(Seq((1L, d1), (2L, "x y z w"))), 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got(1L) == 0L)
    assert(got(2L) == 0L)
  }

  test("blockDuplicationFromHp: aligned blocks only") {
    val d1 = "a b c d e f g h"   // blocks [a b c d] [e f g h]
    val d2 = "a b c d x y z w"   // shares block 1 with d1
    val d3 = "q a b c d e f g"   // shifted by one: NO aligned block shared
    val got = Dedup.blockDuplicationFromHp(
        hp(Seq((1L, d1), (2L, d2), (3L, d3))), 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((2L, 1L)))
    assert(got(2L) == ((2L, 1L)))
    assert(got(3L) == ((2L, 0L)))
  }

  test("paragraphDuplication: separator corpora") {
    val docs = Seq(
      (1L, "para one\npara two"),
      (2L, "para two\npara three"),
      (3L, "unique only\n\n")).toDF("doc_id", "text")
    val got = Dedup.paragraphDuplication(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((2L, 1L)))
    assert(got(2L) == ((2L, 1L)))
    assert(got(3L) == ((1L, 0L)))
  }

  test("incrementalExact: broadcast path and forced bloom path agree") {
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "alpha"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "alpha"), (11L, "fresh"), (12L, "beta"), (13L, "new"))
      .toDF("doc_id", "text")
    val want = Set((10L, 1L), (11L, -1L), (12L, 2L), (13L, -1L))
    def run() = Dedup.incrementalExact(corpus, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run() == want)
    // A 1-byte broadcast gate cannot hold the exact digest set, so the
    // bloom prefilter runs.
    assert(TestSpark.withConf(TestSpark.BroadcastThreshold, "1")(run()) == want)
  }

  test("simhashPairs: banding finds close pairs, Hamming filter verifies") {
    // 32-bit signatures, 4 bands of 8 bits, maxDist 2.
    val sig = Seq(
      (1L, 0L),                  // base
      (2L, 1L),                  // dist 1 from base (band 0 differs only)
      (3L, 3L),                  // dist 2 from base, dist 1 from id 2
      (4L, 7L),                  // dist 3 from base: candidate, filtered
      (5L, 0xFFFFFFFFL)          // no band shared with anyone: no candidate
    ).toDF("id", "simhash")
    val got = Dedup.simhashPairs(sig, 32, 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Set((1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L),
      (2L, 4L, 2L), (3L, 4L, 1L))
    assert(got == want)
  }

  test("simhashPairsExactFirst: identical rows to the all-docs scan") {
    // Near-dup base texts, each replicated 1-3x as exact copies — the
    // regime where all-docs banding goes quadratic. The exact-first
    // composition must reproduce the direct result row for row.
    val base = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "the quick brown fox jumps over the lazy dog near the river edge",
      "the quick brown fox leaps over the lazy dog near the river bank",
      "a completely different document about spark dataframes and shuffles",
      "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
      "totally unrelated text with its own unique vocabulary here today")
    val docs = base.zipWithIndex.flatMap { case (t, i) =>
      (0 to i % 3).map(r => (i * 10L + r, t))
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = rows(Dedup.simhashPairs(
      Dedup.simhash(docs, "doc_id", "text", 60), 60, 4, 3))
    val exactFirst = rows(Dedup.simhashPairsExactFirst(
      docs, "doc_id", "text", 60, 4, 3))
    assert(exactFirst == direct)
    assert(direct.nonEmpty) // the dup replicas guarantee dist-0 pairs
  }

  test("tfidfTopK: integer ranking with df weighting and term tie-break") {
    val docs = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana cherry cherry date")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopK(docs, "doc_id", "text", 2)
      .collect().map(r => ((r.getLong(0), r.getLong(4)), r.getString(1))).toMap
    // doc 1: apple key 2e6/1; banana and cherry tie at 5e5 → banana wins.
    assert(got((1L, 1L)) == "apple" && got((1L, 2L)) == "banana")
    // doc 2: cherry (2e6/2) ties date (1e6/1) at 1e6 → cherry first.
    assert(got((2L, 1L)) == "cherry" && got((2L, 2L)) == "date")
  }

  test("cleanVerdicts: each filter fires independently") {
    val docs = Seq(
      (1L, "a b c d e"),          // clean: kept
      (2L, "x y z w v"),          // keeper of the dup pair: kept
      (3L, "x y z w v"),          // exact dup: dropped (not_dup=false)
      (4L, "r r r r r r"),        // degenerate repetition: rep_ok=false
      (5L, "short")               // 1 token < minTokens: len_ok=false
    ).toDF("doc_id", "text")
    val got = TextAnalysis.cleanVerdicts(docs, "doc_id", "text",
        minTokens = 3, maxTokens = 10, ngramN = 3)
      .collect()
      .map(r => (r.getLong(0),
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap
    assert(got(1L) == ((true, true, true, true)))
    assert(got(2L) == ((true, true, true, true)))
    assert(got(3L) == ((false, true, true, false)))
    assert(got(4L) == ((true, true, false, false)))
    assert(got(5L) == ((true, false, true, false)))
  }

  test("tokenBudgetPerStratum: monotone cut at the budget boundary") {
    import graft.pipeline.Sampling
    // src A (budget 10): nts 6,4,3 by desc order → cums 6,10,13: keep 2.
    // src B (default budget 5): nts 9 → cum 9 > 5: keep none.
    val d = Seq((1L, "A", 4L), (2L, "A", 6L), (3L, "A", 3L), (4L, "B", 9L))
      .toDF("id", "src", "nt")
    val got = Sampling.tokenBudgetPerStratum(d, "src", "nt",
        order = col("nt"), tie = col("id"),
        budgets = Map("A" -> 10L), defaultBudget = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(got == Set((2L, 6L), (1L, 10L)))
  }

  test("packSequences: bins by running start offset, oversized docs span") {
    import graft.pipeline.Sampling
    // Capacity 10, one shard, id order: nts 4,5,3,6,25,2 → starts
    // 0,4,9,12,18,43 → bins 0,0,0,1,1,4 (the 25-token doc starts in bin 1
    // and spans into 2..4; the next doc starts after it, in bin 4).
    val d = Seq((1L, 4L), (2L, 5L), (3L, 3L), (4L, 6L), (5L, 25L), (6L, 2L))
      .map { case (i, n) => (i, "S", n) }.toDF("id", "src", "nt")
    val got = Sampling.packSequences(d, "src", "nt", tie = col("id"),
        capacity = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L,
      6L -> 4L))
  }

  test("semanticDedupExactFirst: identical labels, zero-vector copies stay singletons") {
    // Duplicated embeddings (the quadratic regime) plus a pair of
    // IDENTICAL all-zero vectors: dot(0,0)=0 fails the dotq>0 predicate,
    // so the direct scan leaves each copy a singleton — exact-first must
    // not glue them through their shared group.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)),
      (4L, Array(0.99f, 0.01f)), (5L, Array(0.0f, 1.0f)),
      (6L, Array(0.0f, 0.0f)), (7L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val direct = rows(Similarity.semanticDedup(vecs, cells = 2, 90, 100))
    val ef = rows(Similarity.semanticDedupExactFirst(vecs, cells = 2, 90, 100))
    assert(ef == direct)
    assert(direct.contains((6L, 6L, true)) && direct.contains((7L, 7L, true)))
    assert(direct.contains((2L, 0L, false)) && direct.contains((3L, 0L, false)))
  }

  test("hllRegisters: mergeable by max, estimate tracks true cardinality") {
    import graft.pipeline.Sketches
    val vals = (1 to 2000).map(i => s"value-$i")
    def regs(xs: Seq[String]): Map[Long, Long] =
      Sketches.hllRegisters(xs.toDF("v"), col("v"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = regs(vals)
    // Shard-merge property: element-wise max of half-tables == whole table.
    val (a, b) = vals.splitAt(900)
    val mergedKeys = (regs(a).keySet ++ regs(b).keySet)
    val merged = mergedKeys.map(k =>
      k -> math.max(regs(a).getOrElse(k, 0L), regs(b).getOrElse(k, 0L))).toMap
    assert(merged == whole)
    // Duplicates don't move registers.
    assert(regs(vals ++ vals.take(500)) == whole)
    // Estimate within the expected HLL error band (~13% at 64 buckets;
    // allow 3 sigma).
    val est = Sketches.hllEstimate(whole.toSeq)
    assert(math.abs(est - 2000.0) / 2000.0 < 0.4, s"estimate $est vs 2000")
  }

  test("redactPii: each category redacts; specific categories win") {
    val df = Seq(
      (1L, "mail alice.smith+x@example.co.uk now"),
      (2L, "ssn 123-45-6789 and phone 555-123-4567"),
      (3L, "card 4111 1111 1111 1111 ip 192.168.0.1"),
      (4L, "call (212) 555-0123 or +1 212-555-0123"),
      (5L, "clean text with plain words 42")).toDF("id", "text")
    val got = df.select(col("id"),
      TextAnalysis.redactPii(col("text")).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) == "mail <EMAIL> now")
    assert(got(2L) == "ssn <SSN> and phone <PHONE>")
    assert(got(3L) == "card <CARD> ip <IP>")
    assert(got(4L) == "call <PHONE> or <PHONE>")
    assert(got(5L) == "clean text with plain words 42")
  }

  test("piiCounts: per-category counts without double counting") {
    val df = Seq(
      (1L, "a@b.io and c@d.net, ssn 123-45-6789, ip 10.0.0.1")).toDF("id", "text")
    val r = TextAnalysis.piiCounts(df, "id", "text").collect()(0)
    assert(r.getLong(1) == 2L) // emails
    assert(r.getLong(2) == 1L) // ssn
    assert(r.getLong(3) == 0L) // card (ssn consumed its digits)
    assert(r.getLong(4) == 0L) // phone
    assert(r.getLong(5) == 1L) // ipv4
  }

  test("pqCodes: nearest-centroid codes per subspace, ties to lowest id") {
    // dim 4 split into 2 subspaces; centroids = vectors 0 and 1.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.0f, 0.0f, 0.9f)),   // near 0 in both subspaces
      (3L, Array(0.0f, 0.8f, 0.9f, 0.0f))    // near 1 in both subspaces
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqCodes(vecs, m = 2, ksub = 2, dim = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      0L -> ((0L, 0L)), 1L -> ((1L, 1L)),
      2L -> ((0L, 0L)), 3L -> ((1L, 1L))))
  }

  test("pqTopK: ADC ranks by LUT sums with id tie-break") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (1L, Array(0.0f, 1.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.0f, 0.0f, 0.9f)),
      (3L, Array(0.0f, 0.8f, 0.9f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(vecs, col("id") === 0, k = 2,
      m = 2, ksub = 2, dim = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._3)
    // nb=2 codes (0,0): approx = 100·100 + 100·100 = 20000;
    // nb=1 and nb=3 code (1,1): approx = 0 — tie broken by id.
    assert(got.toSeq == Seq((2L, 20000L, 1L), (1L, 0L, 2L)))
  }

  test("semanticDedup: within-cell cosine groups, cross-cell isolation") {
    // Centroids are ids 0 and 1. Cell 0 holds an exact dup (2) and a
    // near-dup (3) of vector 0; cell 1 holds a dup (4) of vector 1 plus an
    // anti-parallel vector (5) that passes no cosine threshold.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.99f, 0.01f)),
      (4L, Array(0.0f, 1.0f)),
      (5L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(vecs, cells = 2, 90, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val want = Set(
      (0L, 0L, true), (2L, 0L, false), (3L, 0L, false),
      (1L, 1L, true), (4L, 1L, false),
      (5L, 5L, true))
    assert(got == want)
  }
  test("count-min registers: merge by sum, estimates bound true counts") {
    import graft.pipeline.Sketches
    val docs = Seq(
      (1L, "apple banana apple cherry"),
      (2L, "banana apple durian durian"),
      (3L, "cherry apple banana apple"))
    val truth = Map("apple" -> 5L, "banana" -> 3L, "cherry" -> 2L,
      "durian" -> 2L)
    val regs = Sketches.cmRegisters(docs.toDF("id", "text"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    truth.foreach { case (term, n) =>
      val est = Sketches.cmEstimate(regs, term)
      assert(est >= n, s"$term: CM estimate $est below true count $n")
      // 4 tokens over 4x256 buckets: collisions are impossible at this
      // size, so the bound is tight.
      assert(est == n, s"$term: expected exact $n, got $est")
    }
    assert(Sketches.cmEstimate(regs, "absent-term") == 0L)
    // Mergeability: registers of two shards sum element-wise to the
    // whole corpus's registers.
    val a = Sketches.cmRegisters(docs.take(2).toDF("id", "text"), col("text"))
    val b = Sketches.cmRegisters(docs.drop(2).toDF("id", "text"), col("text"))
    val merged = a.unionByName(b)
      .groupBy(col("seed"), col("bucket"))
      .agg(org.apache.spark.sql.functions.sum(col("cnt")).as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == regs.toSet)
  }

  test("Multimodal.HeaderDecoder round-trips every container encoder") {
    import graft.pipeline.Multimodal.{Containers, HeaderDecoder}
    val payload = Array.tabulate[Byte](100)(i => (i % 120).toByte)
    // Each encoder wraps the payload in a genuine header; sniff must
    // recover exactly the encoded fields (endianness per format).
    assert(HeaderDecoder.sniff(Containers.png(640, 480, payload)) ==
      (("png", 640, 480, 0L)))
    assert(HeaderDecoder.sniff(Containers.bmp(13, 37, payload)) ==
      (("bmp", 13, 37, 0L)))
    assert(HeaderDecoder.sniff(Containers.gif(320, 200, payload)) ==
      (("gif", 320, 200, 0L)))
    assert(HeaderDecoder.sniff(Containers.jpeg(1920, 1080, payload)) ==
      (("jpeg", 1920, 1080, 0L)))
    assert(HeaderDecoder.sniff(Containers.wav(8000, payload)) ==
      (("wav", 0, 0, payload.length * 1000L / 8000L)))
    // Unknown and poisoned payloads: classified, never a throw.
    assert(HeaderDecoder.sniff("garbage".getBytes)._1 == "unknown")
    assert(HeaderDecoder.sniff(
      Containers.png(1, 1, Array.emptyByteArray).take(10))._1 == "unknown")
    assert(HeaderDecoder.sniff(Array(0xff.toByte, 0xd8.toByte)) ==
      (("jpeg", 0, 0, 0L)))
    assert(HeaderDecoder.sniff(Array.emptyByteArray)._1 == "unknown")
  }

  test("HeaderDecoder survives hostile RIFF chunk sizes (no hang, no throw)") {
    import graft.pipeline.Multimodal.{Containers, HeaderDecoder}
    def le32(v: Long): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def s(x: String) = x.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    // Chunk size 0xFFFFFFF8: with a truncated Int cursor the step would be
    // zero (infinite loop). Size 0xFFFFFF00: the Int cursor would go
    // negative (ArrayIndexOutOfBoundsException). Both must terminate and
    // classify without killing the batch.
    for (evil <- Seq(0xFFFFFFF8L, 0xFFFFFF00L, 0x80000000L)) {
      val b = s("RIFF") ++ le32(36) ++ s("WAVE") ++
        s("JUNK") ++ le32(evil) ++ Array.fill[Byte](32)(0)
      val (fmt, _, _, dur) = HeaderDecoder.sniff(b)
      assert(fmt == "wav" && dur == 0L)
    }
    // Zero-size chunks advance by 8 bytes each; the walk is bounded, so a
    // long run of them terminates rather than scanning forever.
    val zeros = s("RIFF") ++ le32(36) ++ s("WAVE") ++
      Array.fill(64)(s("JUNK") ++ le32(0)).flatten
    assert(HeaderDecoder.sniff(zeros)._1 == "wav")
    // A well-formed WAV whose data chunk is truncated (header-only read)
    // still reports the declared duration.
    val full = Containers.wav(1000, Array.fill[Byte](500)(1))
    assert(HeaderDecoder.sniff(full.take(44)) == (("wav", 0, 0, 500L)))
  }
}
