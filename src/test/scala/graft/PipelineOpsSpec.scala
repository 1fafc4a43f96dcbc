package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Dedup

/** Unit coverage for pipeline operators whose driver queries only see one
  * data distribution (the sf0.01 documents table): edge shapes that the
  * oracle gate can't distinguish — chains deeper than one propagation
  * round, singletons, multiple components.
  */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side union-find reference: each id → the minimum id of its
    * component. */
  private def minLabels(ids: Seq[Long], pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => (i, find(i)))
  }

  test("connectedComponents: chains, singletons, separate components") {
    // Component 1: 1-2-3-4-5 as a CHAIN (diameter 4 — forces several
    // propagation rounds). Component 2: {10, 11}. Singletons: 20, 21.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a", "b")
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L, 21L).toDF("id")
    val got = Dedup.connectedComponents(pairs, ids)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val want = Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false),
      (5L, 1L, false),
      (10L, 10L, true), (11L, 10L, false),
      (20L, 20L, true), (21L, 21L, true))
    assert(got == want)
  }

  test("connectedComponents: pointer jumping converges in O(log diameter)") {
    // Path graph 0-1-2-...-256: diameter 256. Plain min-label propagation
    // would need ~256 rounds; propagate+jump doubles the min label's reach
    // every round, so convergence must land within log2(256)=8 plus a
    // small constant (one detection round + ramp-up slack).
    val d = 256
    val pairs = (0 until d).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val ids = (0L to d.toLong).toDF("id")
    // Broadcasts disabled: a path this small would otherwise take the
    // driver union-find shortcut, so this reaches the distributed kernel.
    val (df, rounds) = TestSpark.withConf(TestSpark.BroadcastThreshold, "-1")(
      Dedup.connectedComponentsWithRounds(pairs, ids))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L to d.toLong).map(i => (i, 0L)).toSet)
    assert(rounds <= 12, s"expected O(log d) rounds, got $rounds for diameter $d")
  }

  test("clusterPairs: bucket stars keep identical components at linear cost") {
    // One mega-bucket (80 members, ids 0,3,6,...), plus small buckets
    // chaining some of its members to outside docs.
    val big = (0 until 80).map(i => (i * 3L, 0, 1000L))
    val chain = Seq((0L, 1, 2000L), (500L, 1, 2000L), (501L, 2, 3000L), (502L, 2, 3000L))
    val buckets = (big ++ chain).toDF("id", "band", "bucket")
    val full = Dedup.candidatePairs(buckets)
    val star = Dedup.clusterPairs(buckets)
    // 80·79/2 = 3160 full pairs inside the mega-bucket vs 79 star edges;
    // each 2-member chain bucket contributes 1 edge either way.
    assert(full.count() === 3160L + 1L + 1L)
    assert(star.count() === 79L + 1L + 1L)
    val ids = (big ++ chain).map(_._1).distinct.toDF("id")
    def labels(pairs: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(pairs, ids)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labels(star) === labels(full))
  }

  test("exactFirstClusters: identical labels to all-docs clustering") {
    // 12 base texts, several near-dup variants, each text replicated 1-4x
    // as exact copies with distinct ids.
    val base = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "the quick brown fox jumps over the lazy dog near the river edge",
      "a completely different document about spark dataframes and shuffles",
      "a completely different document about spark dataframes and shuffle",
      "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
      "totally unrelated text with its own unique vocabulary here today",
      "another single document that matches nothing else in the corpus")
    val rows = for {
      (t, ti) <- base.zipWithIndex
      copy <- 0 to (ti % 4)
    } yield (ti * 100L + copy, t)
    val docs = rows.toDF("doc_id", "text")
    val fast = Dedup.exactFirstClusters(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // All-docs path: same LSH parameters over every copy.
    val hpAll = docs.select(col("doc_id").as("id"),
      graft.functions.Portable.tokenHashPairs(col("text")).as("_hp"))
    val bucketsAll = Dedup.lshBuckets(Dedup.minhashFromHp(hpAll, 3, 8), 8, 4)
    val slow = Dedup.connectedComponents(Dedup.clusterPairs(bucketsAll),
      docs.select(col("doc_id").as("id")), "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(fast === slow)
    // Sanity: exact copies really did cluster together.
    assert(fast.count(_._3) < rows.length)

    // Null-text docs keep the connectedComponents contract: present in the
    // output as their own singleton cluster, not silently dropped.
    val withNull = docs.union(Seq((9999L, null: String)).toDF("doc_id", "text"))
    val out = Dedup.exactFirstClusters(withNull, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out.contains((9999L, 9999L, true)))
    assert(out.size === rows.length + 1)
  }

  test("exactFirstClusters equals all-docs clustering on random corpora (property)") {
    // Executable form of the equivalence proof in Dedup.exactFirstClusters'
    // doc comment: for ANY corpus (random texts, token-level variants,
    // exact copies), exact-first labels == direct clustering of the
    // star-capped candidate pairs over all docs.
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    val genText: Gen[String] = for {
      n <- Gen.choose(6, 12)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCorpus: Gen[Seq[String]] = for {
      bases <- Gen.choose(3, 6).flatMap(Gen.listOfN(_, genText))
      variants <- Gen.sequence[List[String], String](bases.map(b =>
        Gen.oneOf(b, b + " omega", b.replaceFirst("\\w+", "zulu"))))
    } yield bases ++ variants
    val params = Gen.Parameters.default
    (0 until 4).foreach { seed =>
      val texts = genCorpus(params, Seed(3301L * (seed + 1)))
        .getOrElse(Seq("fallback doc"))
      // i % 3 + 1 exact copies of each text under distinct ids.
      val rows = texts.zipWithIndex.flatMap { case (t, i) =>
        (0 to (i % 3)).map(c => (i * 10L + c, t))
      }
      val docs = rows.toDF("doc_id", "text")
      def labels(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val fast = labels(Dedup.exactFirstClusters(docs, "doc_id", "text"))
      val hpAll = docs.select(col("doc_id").as("id"),
        graft.functions.Portable.tokenHashPairs(col("text")).as("_hp"))
      val bucketsAll = Dedup.lshBuckets(Dedup.minhashFromHp(hpAll, 3, 8), 8, 4)
      val slow = labels(Dedup.connectedComponents(
        Dedup.clusterPairs(bucketsAll), docs.select(col("doc_id").as("id")), "id"))
      assert(fast === slow, s"seed=$seed texts=$texts")
    }
  }

  test("h64Host matches the Column-form portable hash") {
    // randomProjection's matrix derivation (and any future driver-side
    // constant keyed on the portable hash) rests on this equivalence.
    import graft.functions.Portable
    val keys = Seq("proj:0:0", "proj:7:63", "x", "", "a b c")
    val viaCol = keys.toDF("s")
      .select(Portable.h64(col("s")).as("h")).collect().map(_.getLong(0))
    assert(keys.map(Portable.h64Host).toSeq === viaCol.toSeq)
  }

  test("randomProjection: deterministic, integer-exact, row-per-vector") {
    import graft.pipeline.Similarity
    val vecs = Seq(
      (1L, Array.tabulate(8)(i => i * 0.25f)),
      (2L, Array.tabulate(8)(i => (7 - i) * 0.5f))).toDF("vec_id", "embedding")
    val p1 = Similarity.randomProjection(vecs, k = 4, dim = 8).collect()
      .map(r => (r.getLong(0), (1 to 4).map(r.getLong))).toMap
    val p2 = Similarity.randomProjection(vecs, k = 4, dim = 8).collect()
      .map(r => (r.getLong(0), (1 to 4).map(r.getLong))).toMap
    assert(p1 === p2)             // same matrix every run
    assert(p1.size === 2)
    assert(p1(1L) !== p1(2L))     // distinct vectors project apart
  }

  test("ivfAssign: empty centroid set yields empty assignment, not a bounds error") {
    import graft.pipeline.Similarity
    val vecs = Seq(
      (10L, Array.tabulate(8)(i => i * 0.25f)),
      (11L, Array.tabulate(8)(i => (7 - i) * 0.5f))).toDF("vec_id", "embedding")
    // cells = 0 selects no centroids (id < 0): the broadcast-join-era
    // contract was an empty result; the argmax path must match instead
    // of tripping element_at's 1-based bounds check (round-12 ADVICE).
    assert(Similarity.ivfAssign(vecs, k = 0).count() === 0L)
    val empty = vecs.where(col("vec_id") < 0L)
    assert(Similarity.ivfAssign(empty, k = 4).count() === 0L)
  }

  test("minhashJaccardEstimate: full agreement on identical docs, partial on near-dups") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),   // exact copy of 1
      (3L, "the quick brown fox jumps over the lazy cat today"),   // near-dup of 1
      (4L, "completely different content with no shared shingles here")
    ).toDF("doc_id", "text")
    val hp = docs.select(col("doc_id").as("id"),
      graft.functions.Portable.tokenHashPairs(col("text")).as("_hp"))
    val sig = Dedup.minhashFromHp(hp, 3, 8)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val est = Dedup.minhashJaccardEstimate(sig, pairs, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(est((1L, 2L)) === 8L)     // identical docs agree everywhere
    assert(est((1L, 4L)) === 0L)     // disjoint shingle sets share no min
    // Near-dup agreement is in range but clumpy: the h1 + j*h2 family's
    // argmins are correlated across j (the K-M double-hashing tradeoff),
    // so a single changed window can flip many permutations at once —
    // only the boundary cases are deterministic.
    assert(est((1L, 3L)) >= 0L && est((1L, 3L)) <= 8L)
  }

  test("ngramOverlapExactFirst: identical rows to the direct scan under duplication") {
    import graft.pipeline.TextAnalysis
    val base = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta iota",
      "one two three four five six seven eight nine",
      "unrelated words that overlap with nothing else at all")
    val rows = for {
      (t, ti) <- base.zipWithIndex
      copy <- 0 to (ti % 3)
    } yield (ti * 10L + copy, t)
    val docs = rows.toDF("doc_id", "text")
    val bench = docs.where(col("doc_id") % 2 === 0)
    val corpus = docs.where(col("doc_id") % 2 =!= 0)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val direct = rowsOf(TextAnalysis.ngramOverlap(corpus, bench, "doc_id", "text", 3)
      .select(col("corpus_id").cast("long"), col("bench_id").cast("long"),
        col("shared").cast("long"), col("corpus_sz").cast("long")))
    val fast = rowsOf(TextAnalysis.ngramOverlapExactFirst(corpus, bench, "doc_id", "text", 3)
      .select(col("corpus_id").cast("long"), col("bench_id").cast("long"),
        col("shared").cast("long"), col("corpus_sz").cast("long")))
    assert(direct.nonEmpty)
    assert(fast === direct)
  }

  test("connectedComponents: kernel is correct across multiple partitions") {
    // Shuffle regression guard: with >=2 hash partitions, propagate and
    // jump messages cross partition boundaries; if they are not actually
    // re-shuffled to their destination partition (a claimed-partitioner
    // no-op), components silently split. Force 4 partitions on a path
    // graph whose nodes hash everywhere.
    val d = 256
    val pairs = (0 until d).map(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
    val ids = (0L to d.toLong).toDF("id")
    val got = TestSpark.withConf(TestSpark.BroadcastThreshold, "-1")(
      Dedup.connectedComponentsWithRounds(pairs, ids, partitions = Some(4))._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(got == (0L to d.toLong).map(i => (i, 0L)).toSet)
  }

  test("connectedComponents: driver union-find agrees with the kernel") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2).map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .distinct.toDF("a", "b")
    val ids = (0L until 150L).toDF("id")
    // keep = the id IS its component's label.
    val expected = minLabels(0L until 150L,
        pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
      .map { case (i, l) => (i, l, i == l) }.toSet
    def run() = Dedup.connectedComponents(pairs, ids)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val viaDriver = run()
    // Broadcasts disabled: the distributed kernel.
    val viaKernel = TestSpark.withConf(TestSpark.BroadcastThreshold, "-1")(run())
    assert(viaDriver == expected)
    assert(viaKernel == expected)
  }

  test("asOfJoin: latest-at-or-before match, ties, and no-match nulls") {
    import graft.pipeline.Temporal
    // key=1: right rows at ts 10 (id 100), 20 (ids 200 and 201 — tie),
    // 20 again; left rows at ts 5 (no match), 10 (exact-ts match), 25
    // (tie broken by greatest id). key=2: no right rows at all.
    val left = Seq(
      (1L, 5L, 1000L), (1L, 10L, 1001L), (1L, 25L, 1002L),
      (2L, 30L, 1003L)).toDF("k", "ts", "id")
    val right = Seq(
      (1L, 10L, 100L, "a"), (1L, 20L, 200L, "b"), (1L, 20L, 201L, "c"))
      .toDF("k", "ts", "id", "tag")
      .select(col("k"), col("ts"), col("id"),
        col("id").as("rid"), col("tag"))
    val got = Temporal.asOfJoin(left, right, Seq("k"), "ts", "id",
        Seq("rid", "tag"))
      .collect()
      .map(r => (r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) "-" else r.getString(4))).toSet
    val want = Set(
      (1000L, -1L, "-"),     // before any right row
      (1001L, 100L, "a"),    // right row AT the left ts matches
      (1002L, 201L, "c"),    // equal-ts tie -> greatest tie column, atomic payload
      (1003L, -1L, "-"))     // key with no right rows
    assert(got == want)
  }

  test("topKPerGroup: rank, tie-breaking, short groups") {
    import graft.pipeline.Sampling
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 30L), ("a", 4L, 20L),
      ("b", 5L, 7L)).toDF("g", "id", "score")
    val got = Sampling.topKPerGroup(df, Seq("g"), col("score"), col("id"), 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    // ties by id ascending: (2, 30) ranks before (3, 30); b has only 1 row
    assert(got == Set(("a", 2L, 1L), ("a", 3L, 2L), ("b", 5L, 1L)))
  }

  test("stratified sampling is a deterministic function of the id") {
    import graft.pipeline.Sampling
    val df = (0L until 200L).map(i => (i, if (i % 2 == 0) "x" else "y"))
      .toDF("id", "s")
    val once = Sampling.stratified(df, "id", "s", Map("x" -> 700), 100)
      .collect().map(_.getLong(0)).toSet
    val again = Sampling.stratified(df, "id", "s", Map("x" -> 700), 100)
      .collect().map(_.getLong(0)).toSet
    assert(once == again)
    assert(once.nonEmpty && once.size < 200)
    // higher-rate stratum keeps proportionally more
    val xs = once.count(_ % 2 == 0)
    val ys = once.count(_ % 2 == 1)
    assert(xs > ys, s"x-stratum (700/1000) kept $xs, y-stratum (100/1000) kept $ys")
  }

  test("ngramOverlap counts shared distinct n-grams per pair") {
    import graft.pipeline.TextAnalysis
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),     // shares the 4-gram twice-window with bench 10
      (2L, "nothing in common here at all")).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "alpha beta gamma delta zeta")).toDF("doc_id", "text")
    val got = TextAnalysis.ngramOverlap(corpus, bench, "doc_id", "text", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc 1 has 4-grams {a b g d, b g d e}; bench has {a b g d, b g d z};
    // shared = 1; doc 1's total 4-grams = 2. Doc 2 shares nothing -> absent.
    assert(got == Set((1L, 10L, 1L, 2L)))
  }

  test("centroids: exact quantized component sums per group") {
    import graft.pipeline.Similarity
    val df = Seq(
      (1L, Seq(0.011f, -0.02f), 7),
      (2L, Seq(0.029f, 0.04f), 7),
      (3L, Seq(1.0f, 1.0f), 8)).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroids(df, "label")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // label 7: dim0 round(1.1)+round(2.9)=1+3=4, dim1 round(-2)+round(4)=2; n=2
    assert(got == Set(
      (7L, 0L, 4L, 2L), (7L, 1L, 2L, 2L),
      (8L, 0L, 100L, 1L), (8L, 1L, 100L, 1L)))
  }

  test("connectedComponents matches brute-force union-find on random graphs") {
    import graft.pipeline.Dedup
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(40)
      val ids = (0L until n.toLong)
      val pairSeq = Seq.fill(n / 2) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a < b) (a, b) else (b, a)
      }.filter(p => p._1 != p._2).distinct
      val want = minLabels(ids, pairSeq).toSet
      val got = Dedup.connectedComponents(
        pairSeq.toDF("a", "b"), ids.toDF("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"seed=$seed n=$n pairs=${pairSeq.length}")
    }
  }

  test("asOfJoin matches a per-row reference on random event streams") {
    import graft.pipeline.Temporal
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      def rows(m: Int, idBase: Long) = Seq.fill(m)(
        (rnd.nextInt(5).toLong, rnd.nextInt(40).toLong, 0L))
        .zipWithIndex.map { case ((k, ts, _), i) => (k, ts, idBase + i) }
      val lRows = rows(60, 1000)
      val rRows = rows(60, 5000)
      val want = lRows.map { case (k, ts, id) =>
        val m = rRows.filter(r => r._1 == k && r._2 <= ts)
          .sortBy(r => (r._2, r._3)).lastOption
        (id, m.map(_._3).getOrElse(-1L))
      }.toSet
      val got = Temporal.asOfJoin(
        lRows.toDF("k", "ts", "id"),
        rRows.toDF("k", "ts", "id")
          .select(col("k"), col("ts"), col("id"), col("id").as("rid")),
        Seq("k"), "ts", "id", Seq("rid"))
        .collect()
        .map(r => (r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
      assert(got == want, s"seed=$seed")
    }
  }

  test("repetition counts duplicated n-gram windows per document") {
    import graft.functions.Portable
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (1L, "a b c a b c a b c"),   // 7 trigram windows, 3 distinct -> 4 repeated
      (2L, "all distinct words here now"), // 3 windows, all distinct
      (3L, "tiny")).toDF("doc_id", "text") // short text: one whole-text window
    val hp = docs.select(col("doc_id").as("id"),
      Portable.tokenHashPairs(col("text")).as("_hp"))
    val got = TextAnalysis.repetition(hp, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 7L, 4L), (2L, 3L, 0L), (3L, 1L, 0L)))
  }

  test("sessionize: gap boundary is exclusive, sessions are per key") {
    import graft.pipeline.Temporal
    // key 1: events at t=0, 10 (gap 10 == threshold -> same session),
    // 21 (gap 11 > threshold -> new session), 22. key 2: one event.
    val df = Seq(
      (1L, 0L, 100L), (1L, 10L, 101L), (1L, 21L, 102L), (1L, 22L, 103L),
      (2L, 5L, 200L)).toDF("k", "ts", "id")
    val got = Temporal.sessionize(df, "k", "ts", "id", gap = 10L)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (100L, 0L), (101L, 0L), (102L, 1L), (103L, 1L), (200L, 0L)))
  }

  test("rollingStats: trailing-n frame per key, short prefixes, ties") {
    import graft.pipeline.Temporal
    // key 1: values 1,2,3,4 at ts 0,1,1,2 (tie at ts=1 ordered by id);
    // rolling n=2 -> frames [1],[1,2],[2,3],[3,4]. key 2: single event.
    val df = Seq(
      (1L, 0L, 10L, 1L), (1L, 1L, 11L, 2L), (1L, 1L, 12L, 3L),
      (1L, 2L, 13L, 4L), (2L, 9L, 20L, 7L)).toDF("k", "ts", "id", "v")
    val got = Temporal.rollingStats(df, "k", "ts", "id", "v", n = 2)
      .collect()
      .map(r => (r.getLong(2), (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    assert(got(10L) == ((1L, 1L, 1L, 1L)))
    assert(got(11L) == ((2L, 3L, 1L, 2L)))
    assert(got(12L) == ((2L, 5L, 2L, 3L)))
    assert(got(13L) == ((2L, 7L, 3L, 4L)))
    assert(got(20L) == ((1L, 7L, 7L, 7L)))
  }

  test("rollingStatsRange: value-defined frame, inclusive bound, ts peers") {
    import graft.pipeline.Temporal
    // key 1 at ts 0, 8, 10, 10, 25; window 10 (inclusive): frames
    // t=0 -> {0}, t=8 -> {0,8}, t=10 -> {0,8,10,10} (peers share), t=25 -> {25}.
    val df = Seq(
      (1L, 0L, 1L), (1L, 8L, 2L), (1L, 10L, 3L), (1L, 10L, 4L),
      (1L, 25L, 5L)).toDF("k", "ts", "v")
    val got = Temporal.rollingStatsRange(df, "k", "ts", "v", window = 10L)
      .collect()
      .map(r => (r.getLong(2), (r.getLong(3), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got(1L) == Set((1L, 1L)))
    assert(got(2L) == Set((2L, 3L)))
    // Both ts=10 rows see the identical 4-row frame (peers included).
    assert(got(3L) == Set((4L, 10L)))
    assert(got(4L) == Set((4L, 10L)))
    assert(got(5L) == Set((1L, 5L)))
  }

  test("connectedComponents: empty pair set keeps every doc") {
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val ids = Seq(7L, 8L).toDF("id")
    val got = Dedup.connectedComponents(pairs, ids)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == Set((7L, 7L, true), (8L, 8L, true)))
  }
}
