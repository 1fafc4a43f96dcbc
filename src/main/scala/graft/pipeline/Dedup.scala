package graft.pipeline

import graft.kernel.Ckpt._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Portable._

/** Deduplication operators for large-scale document pipelines. All are pure
  * DataFrame transforms (codegen-friendly, one shuffle each unless noted)
  * and scale by key partitioning:
  *
  *  - exact: hash-groupBy on the content digest;
  *  - MinHash + LSH: shingle → k independent min-hashes → band → bucket
  *    join (the scalable near-dup path: candidates only meet inside a
  *    bucket, never all-pairs);
  *  - SimHash: per-bit majority vote over token hashes;
  *  - n-gram Jaccard: exact verification for candidate pairs.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content digest with the
    * lowest doc id as keeper and the duplicate count. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n"))

  /** MinHash signature: `perms` independent min-hashes over word `n`-gram
    * shingles. Columns: id, m0..m{perms-1}. Single pass, no shuffle
    * (per-row aggregation via array_min), and ONE md5 digest per shingle:
    * the digest's two halves (h1, h2) seed the whole permutation family as
    * `h1 + j·h2` — at 100 TB the digest, not the min, is the dominant cost,
    * so this is ~`perms`× cheaper than hashing per permutation.
    *
    * The two-step select is deliberate: the hashed-shingle array
    * materializes per row once, and CollapseProject keeps it that way
    * (non-cheap expressions referenced `perms` times don't re-inline). */
  def minhash(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, perms: Int = 8): DataFrame =
    minhashFromHp(
      docs.select(col(idCol).as("id"), tokenHashPairs(col(textCol)).as("_hp")),
      n, perms)

  /** [[minhash]] over a prepared `(id, _hp)` token-hash-pair table — the
    * md5-per-token pass is the dominant cost of every shingle-based
    * operator, so pipelines materialize it once (see
    * `PipelineQueries.docsHp`) and fan out. */
  def minhashFromHp(hp: DataFrame, n: Int = 3, perms: Int = 8): DataFrame = {
    val sig = (0 until perms).map { j =>
      array_min(transform(col("_h"),
        h => h.getField("s1") + lit(j.toLong) * h.getField("s2"))).as(s"m$j")
    }
    // Two-step select: windows materialize once per row, then the
    // permutation family — each step references the previous step's column
    // many times, which keeps CollapseProject from re-inlining the
    // expensive producers.
    hp.select(col("id"), shingleHashWindows(col("_hp"), n).as("_h"))
      .select((col("id") +: sig): _*)
  }

  /** LSH bands over a minhash signature: `bands` buckets of
    * `perms/bands` rows each; two docs are candidates iff they agree on
    * all rows of at least one band. Columns: id, band, bucket. */
  def lshBuckets(sig: DataFrame, perms: Int, bands: Int): DataFrame = {
    require(perms % bands == 0, "perms must divide evenly into bands")
    val rows = perms / bands
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rows).map(r => col(s"m${b * rows + r}"))
      struct(lit(b).as("band"),
        h64(concat_ws("_", parts: _*)).as("bucket"))
    }
    sig.select(col("id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
  }

  /** Candidate near-duplicate pairs from LSH buckets: a self-equijoin on
    * (band, bucket) — the shuffle is keyed by bucket, so work is
    * proportional to bucket sizes, not |docs|². The bucket table is
    * materialized first (it's tiny — |docs|·bands rows of three longs —
    * while its lineage holds the full signature computation), so the
    * self-join's two sides share one computation instead of re-hashing
    * every shingle twice. */
  def candidatePairs(buckets: DataFrame): DataFrame = {
    val mat = buckets.graftCheckpoint(true)
    val l = mat.toDF("a", "band", "bucket")
    val r = mat.toDF("b", "band", "bucket")
    l.join(r, Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Candidate edges for CLUSTERING: every bucket collapses to a star —
    * `(bucket_min, id)` for each other member, n−1 edges instead of the
    * self-join's n²/2 pairs — which yields IDENTICAL connected components
    * (every pair of co-bucketed docs stays connected through the bucket
    * minimum). Cost is linear in the bucket table, ≤ |docs|·bands edges
    * total, one window shuffle, NO self-join — the 100 TB guard against
    * duplication-heavy corpora, where pairwise candidates grow
    * quadratically in the duplication factor (the sf1 headroom run hit
    * 121× pair growth on 10× data — see SCALE_NOTES.md). Only the
    * clustering path may use this: pairwise *verification* (Jaccard)
    * needs [[candidatePairs]]' real pairs, stars would skip direct
    * comparisons. */
  def clusterPairs(buckets: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    buckets
      .withColumn("_mn", min(col("id")).over(w))
      .where(col("id") =!= col("_mn"))
      .select(col("_mn").as("a"), col("id").as("b"))
      .distinct()
  }

  /** MinHash Jaccard ESTIMATE for candidate pairs: the fraction of
    * agreeing signature components estimates the true Jaccard (each
    * min-hash agrees with probability J) — the cheap verifier real
    * pipelines run before exact shingle-set Jaccard. Pure signature
    * lookups: two broadcast-or-hash joins on the (typically tiny)
    * candidate pair table, zero shingle work. Output: (a, b, agree,
    * perms) as exact integers (consumer derives agree/perms). */
  def minhashJaccardEstimate(sig: DataFrame, pairs: DataFrame,
      perms: Int): DataFrame = {
    val la = sig.toDF(("a" +: (0 until perms).map(j => s"_la$j")): _*)
    val lb = sig.toDF(("b" +: (0 until perms).map(j => s"_lb$j")): _*)
    val agree = (0 until perms)
      .map(j => when(col(s"_la$j") === col(s"_lb$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs.join(la, "a").join(lb, "b")
      .select(col("a"), col("b"), agree.as("agree"),
        lit(perms.toLong).as("perms"))
  }

  /** SimHash: `bits`-bit signature where bit b is set iff the (multiset)
    * majority of token hashes has bit b set. One explode + one groupBy. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 32): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("t"))
      .where(col("t") =!= "")
      .select(col("id"), h64(col("t")).as("h"))
    val bitSums = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b")
    }
    val perBit = tok.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    perBit.select(col("id"), sig.as("simhash"))
  }

  /** Connected components over candidate duplicate pairs: assigns every id
    * the minimum id of its component ("cluster"), turning pairwise near-dup
    * hits into dedup groups. `keep` marks the canonical representative.
    *
    * Min-label propagation on an iterative RDD kernel (the same reasoning
    * as the recursive-fixpoint kernel in the compiler: per-round Catalyst
    * planning costs more than the per-round data). Only nodes touched by a
    * pair iterate — untouched documents are their own cluster by
    * definition and join back in at the end. Edges and labels share one
    * hash partitioner keyed by node id, so each round is one narrow
    * propagate (edge partition × co-resident label map) plus one
    * pointer-jump (each node asks its current label for THAT node's
    * label), O(edges + nodes) shuffled messages, and one narrow
    * min-merge — a single cheap job (~50 ms/round at sf0.1). The jump is
    * what caps the round count: plain edge propagation needs
    * O(component diameter) rounds (LSH bucket chains stretched this to
    * ~20 at sf0.1), while propagate+jump doubles the label's reach every
    * round — O(log d) total, the classic hash-to-min bound. Labels only
    * decrease, so a changed-count accumulator read from the same job
    * detects convergence for free.
    */
  def connectedComponents(pairs: DataFrame, ids: DataFrame,
      idCol: String = "id"): DataFrame =
    connectedComponentsWithRounds(pairs, ids, idCol)._1

  /** [[connectedComponents]] plus the number of label-update rounds the
    * kernel ran before converging (exposed for the O(log d) convergence
    * test; the last round — the one that observes zero changes — counts).
    * `partitions` fixes the kernel's partition count (the multi-partition
    * regression spec passes 4 on a gate-sized graph); by default it is
    * sized from the edge count. */
  private[graft] def connectedComponentsWithRounds(pairs: DataFrame,
      ids: DataFrame, idCol: String = "id",
      partitions: Option[Int] = None): (DataFrame, Int) = {
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val spark = ids.sparkSession
    val sc = spark.sparkContext

    val dbg = sys.env.contains("GRAFT_CC_DEBUG")
    val t0 = System.nanoTime()
    def trace(msg: String): Unit = if (dbg)
      System.err.println(s"[cc] $msg elapsedMs=${(System.nanoTime() - t0) / 1000000}")

    val edgePairs: RDD[(Long, Long)] = pairs
      .select(col("a").cast("long"), col("b").cast("long")).rdd
      .map(r => (r.getLong(0), r.getLong(1)))
      // Both the gate count and the consumer that follows it (driver
      // collect OR kernel edge build) read this RDD — without caching, the
      // full candidate-pair lineage would recompute for the second pass.
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = edgePairs.count()
    trace(s"edges counted n=$nEdges")
    val allIds = ids.select(col(idCol).cast("long").as("id"))

    if (nEdges == 0)
      return (allIds.select(col("id"), col("id").as("cluster"),
        lit(true).as("keep")), 0)

    // RDD-backed frames carry no Catalyst stats; gate driver/broadcast
    // decisions on estimated bytes vs the session's
    // autoBroadcastJoinThreshold (same byte gate as the fixpoint loop —
    // a bare row-count gate would admit arbitrarily wide rows).
    //
    // Gate-sized pair sets (the common case: candidate pairs are a tiny
    // fraction of the corpus) finish on the driver: union-find with
    // min-root union + path compression is O(E·α) — microseconds where the
    // iterative kernel pays a job per round — and the label table rides
    // back as a broadcast, exactly like any dimension-sized join side.
    // The distributed pointer-jumping kernel below is the scale path for
    // pair sets past the gate (and every pair set when broadcasts are
    // disabled).
    if (graft.kernel.RddKernel.broadcastable(spark, nEdges, 32L)) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      val collected = edgePairs.collect()
      edgePairs.unpersist(blocking = false)
      collected.foreach { case (a, b) =>
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        val ra = find(a)
        val rb = find(b)
        // Min-root union: the root is always the component's minimum id,
        // so find(x) IS the cluster label.
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      parent.forEach { (k, _) => rows += ((k, find(k))) }
      trace(s"driver union-find done nodes=${rows.length}")
      import spark.implicits._
      val labelDf = broadcast(rows.toSeq.toDF("id", "lbl"))
      val result = allIds.join(labelDf, Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster"),
          (col("id") === coalesce(col("lbl"), col("id"))).as("keep"))
      return (result, 0)
    }

    val userP = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val p = partitions.getOrElse(
      math.max(1L, math.min(userP.toLong, nEdges / 250000L + 1L)).toInt)
    val part = new HashPartitioner(p)
    val edges = edgePairs
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    // Every edge source is a node, and edges are symmetric, so the distinct
    // keys of each edge partition ARE the touched nodes of that partition.
    var labels: RDD[(Long, Long)] = edges
      .mapPartitions({ it =>
        val seen = new java.util.HashSet[Long]()
        it.collect { case (s, _) if seen.add(s) => (s, s) }
      }, preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var nTouched = labels.count()
    // labels' count materialized (and cached) the symmetric edge RDD; the
    // raw pair RDD is no longer read by anyone.
    edgePairs.unpersist(blocking = false)
    trace(s"labels initialized")
    // Convergence = no label shrank this round. The changed-count
    // accumulator is exact (no floating sums, no overflow wrap) and its
    // ZERO/non-zero reading is retry-safe: a re-executed task that saw no
    // change still adds nothing, and any task that shrank a label keeps
    // the count positive regardless of double-counting.
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      val acc = sc.longAccumulator
      // Edge propagation: every edge forwards its source's label to its
      // destination (min over neighbors). The zip's OUTPUT is keyed by
      // destination — a different key than the input partitioning — so it
      // must NOT claim the parent's partitioner (a `true` here would make
      // the following partitionBy a silent no-op and drop every
      // cross-partition merge).
      val msgs = edges.zipPartitions(labels, preservesPartitioning = false) {
        (eIt, lIt) =>
          val m = new java.util.HashMap[Long, Long]()
          lIt.foreach { case (id, l) => m.put(id, l) }
          eIt.map { case (s, d) => (d, m.get(s)) }
      }.partitionBy(part)
      // Pointer jump: each node asks its current label l for l's OWN
      // label (label values are always touched-node ids, so the lookup
      // always hits). Each round the effective reach of a component's min
      // label doubles — this is what turns O(diameter) rounds into
      // O(log diameter). Same re-keying rule: the answer stream is keyed
      // by the asking node, not the partitioned label key.
      val reqs = labels.map { case (id, l) => (l, id) }.partitionBy(part)
      val jmsgs = reqs.zipPartitions(labels, preservesPartitioning = false) {
        (rIt, lIt) =>
          val m = new java.util.HashMap[Long, Long]()
          lIt.foreach { case (id, l) => m.put(id, l) }
          rIt.map { case (l, id) => (id, m.get(l)) }
      }.partitionBy(part)
      val next = labels.zipPartitions(msgs, jmsgs,
          preservesPartitioning = true) { (lIt, mIt, jIt) =>
        val m = new java.util.HashMap[Long, Long]()
        lIt.foreach { case (id, l) => m.put(id, l) }
        def merge(d: Long, l: Long): Unit =
          if (l < m.get(d)) { m.put(d, l); acc.add(1L) }
        mIt.foreach { case (d, l) => merge(d, l) }
        jIt.foreach { case (d, l) => merge(d, l) }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        m.forEach { (k, v) => out += ((k, v)) }
        out.iterator
      }.graftCheckpoint() // truncate lineage: rounds must not stack shuffles
      nTouched = next.count()
      labels = next
      changed = acc.value
      trace(s"round $rounds done changed=$changed")
    }

    import spark.implicits._
    val labelDf0 = labels.toDF("id", "lbl")
    // Broadcast the touched-node label table when it fits the same gate.
    val labelDf =
      if (graft.kernel.RddKernel.broadcastable(spark, nTouched, 24L * 2 + 8L))
        broadcast(labelDf0)
      else labelDf0
    val result = allIds.join(labelDf, Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster"),
        (col("id") === coalesce(col("lbl"), col("id"))).as("keep"))
    if (dbg) { val n = result.count(); trace(s"final count n=$n") }
    (result, rounds)
  }

  /** EXACT-DEDUP-FIRST near-dup clustering — the composition SCALE_NOTES.md
    * prescribes for duplication-heavy corpora: shingle and LSH-cluster only
    * DISTINCT texts (one representative per content digest, the group
    * minimum), then expand labels back over the digest groups. Labels are
    * provably identical to clustering all documents directly: an exact
    * copy shares every band bucket with its representative, so the
    * all-docs component structure is exactly the expansion of the
    * representative components — but shingling cost drops from
    * O(corpus tokens) to O(distinct-text tokens), which at 100 TB with
    * heavy duplication is the dominant saving. Output: (id, cluster,
    * keep), same contract as [[connectedComponents]]. */
  def exactFirstClusters(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, perms: Int = 8, bands: Int = 4): DataFrame = {
    val d = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    // One row per distinct text: representative id = group minimum, so the
    // component minimum over representatives IS the minimum over all docs.
    val groups = d.groupBy(md5(col("text")).as("digest"))
      .agg(min(col("id")).as("rep"), first(col("text")).as("text"))
      .select(col("digest"), col("rep"), tokenHashPairs(col("text")).as("_hp"))
      .graftCheckpoint(true) // shared by the rep pipeline and the expansion
    exactFirstClustersFromGroups(groups,
      d.select(col("id"), md5(col("text")).as("digest")),
      d.select(col("id")), n, perms, bands)
  }

  /** [[exactFirstClusters]] over prepared digest-group tables — `groups`
    * is one row per distinct text `(digest, rep = min member id, _hp)`
    * with the token-hash pairs ALREADY computed (each distinct text is
    * md5-token-hashed exactly once for every exact-first consumer),
    * `members` maps every doc `(id, digest)` — the cross-query artifact
    * cache in PipelineQueries shares one checkpointed pair. */
  def exactFirstClustersFromGroups(groups: DataFrame, members: DataFrame,
      allIds: DataFrame, n: Int = 3, perms: Int = 8,
      bands: Int = 4): DataFrame = {
    val hp = groups.select(col("rep").as("id"), col("_hp"))
    val buckets = lshBuckets(minhashFromHp(hp, n, perms), perms, bands)
    val repClusters = connectedComponents(clusterPairs(buckets),
      groups.select(col("rep").as("id")), "id")
    val expanded = members
      .join(groups.select(col("digest"), col("rep")), "digest")
      .join(repClusters.select(col("id").as("rep"), col("cluster")), "rep")
      .select(col("id"), col("cluster"))
    // Null-text docs have a null digest, which no equi-join matches — keep
    // the connectedComponents contract (every id present, own cluster)
    // with the same allIds left join + coalesce.
    allIds.join(expanded, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"),
        (col("id") === coalesce(col("cluster"), col("id"))).as("keep"))
  }

  /** SimHash near-dup candidate pairs with exact Hamming verification —
    * the banding trick on bit RANGES: split the `bits`-bit signature into
    * `bands` contiguous ranges; by pigeonhole, any pair within Hamming
    * distance `maxDist < bands` agrees exactly on at least one whole band,
    * so the band-value self-equijoin finds every such pair while work
    * stays ∝ bucket sizes (the SimHash analog of MinHash LSH banding).
    * Verification is one codegen'd `bit_count(a XOR b)` per candidate —
    * no token re-reads. Input: `(id, simhash)` (see [[simhash]]); output:
    * `(a, b, dist)` for pairs with dist ≤ maxDist. */
  def simhashPairs(sig: DataFrame, bits: Int, bands: Int,
      maxDist: Int): DataFrame = {
    require(bits % bands == 0, "bands must divide the signature width")
    require(maxDist < bands,
      "pigeonhole guarantee needs maxDist < bands (more differing bits " +
        "than bands could dodge every band)")
    val w = bits / bands
    val mask = (1L << w) - 1
    val mat = sig.graftCheckpoint(true) // both join sides + the verify read it
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * w).bitwiseAND(mask).as("v"))
    }
    val banded = mat.select(col("id"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.v"))
    val cand = banded.toDF("a", "band", "v")
      .join(banded.toDF("b", "band", "v"), Seq("band", "v"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cand
      .join(mat.toDF("a", "sa"), "a")
      .join(mat.toDF("b", "sb"), "b")
      .select(col("a"), col("b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** EXACT-DEDUP-FIRST [[simhashPairs]] — the duplication-heavy-corpus
    * guard, same composition as [[exactFirstClusters]]: band and verify
    * only DISTINCT texts (one representative per content digest), then
    * expand the rep-level pair table over the digest groups. Identical
    * texts have identical signatures, so the output is IDENTICAL row for
    * row to running [[simhashPairs]] over all documents — rep pairs
    * expand to every cross-group member pair at the rep distance, and
    * same-digest members pair at distance 0 (they co-band trivially) —
    * but the banded self-join and the two signature-lookup joins run at
    * distinct-text size. The round-7 sf1 headroom run measured the
    * difference: 10× replication grew the all-docs banded candidates
    * 100× (156 s); rep-level banding holds at the distinct-text count.
    */
  def simhashPairsExactFirst(docs: DataFrame, idCol: String,
      textCol: String, bits: Int, bands: Int, maxDist: Int): DataFrame = {
    val d = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("text"))
    val groups = d.groupBy(md5(col("text")).as("digest"))
      .agg(min(col("id")).as("rep"), first(col("text")).as("text"))
      .graftCheckpoint(true) // feeds the signature pass AND the expansion
    val repSig = simhash(groups, "rep", "text", bits)
    val repPairs = simhashPairs(repSig, bits, bands, maxDist)
    // id → rep for every doc (rep of its own digest group).
    val gm = d.select(col("id"), md5(col("text")).as("digest"))
      .join(groups.select(col("digest"), col("rep")), "digest")
      .select(col("id"), col("rep"))
      .graftCheckpoint(true)
    // Cross-group pairs: members of the a-side group × members of the
    // b-side group, at the rep distance. Member ids need not order the
    // way their reps do.
    val cross = repPairs
      .join(gm.toDF("ia", "ra"), col("a") === col("ra"))
      .join(gm.toDF("ib", "rb"), col("b") === col("rb"))
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("dist"))
    // Same-digest pairs: identical signatures, distance 0.
    val l = gm.toDF("ia", "rep")
    val r = gm.toDF("ib", "rep")
    val intra = l.join(r, Seq("rep"))
      .where(col("ia") < col("ib"))
      .select(col("ia").as("a"), col("ib").as("b"), lit(0L).as("dist"))
    cross.union(intra)
  }

  /** Cross-document duplication counts for pre-hashed text units (span
    * windows, blocks, paragraphs): per document, the number of unit
    * positions and how many of them carry a hash that also appears in at
    * least one OTHER document. `units` must be `(id, h)` with one row per
    * unit position.
    *
    * Plan shape: one groupBy on the unit hash (map-side partial agg
    * collapses each partition to its distinct hashes before the shuffle),
    * one hash-keyed join back, one groupBy on the doc id — work ∝ unit
    * positions, shuffle keys are 64-bit hashes, no self-join. At 100 TB
    * this is the same economics as the contamination scan: collisions pay,
    * unique units ride the partial agg. */
  private[graft] def unitDuplication(units: DataFrame,
      totalCol: String, dupCol: String): DataFrame = {
    // SINGLE-CONSUMER pipeline: one explicit exchange on the unit hash,
    // then everything up to the per-doc aggregation runs partition-local —
    // the (h, id) aggregate's clustering and the window's partitioning
    // are both satisfied by hashpartitioning(h), so the unit table (an
    // md5 per window position) is computed once and never re-shuffled or
    // joined back. ("≥2 distinct docs" needs only min≠max over the
    // partition — constant-size state, no distinct-set.)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    units.repartition(col("h"))
      .groupBy(col("h"), col("id")).agg(count(lit(1)).as("_npos"))
      .withColumn("_xdoc",
        min(col("id")).over(w) =!= max(col("id")).over(w))
      .groupBy(col("id"))
      .agg(sum(col("_npos")).as(totalCol),
        sum(when(col("_xdoc"), col("_npos")).otherwise(0L)).as(dupCol))
  }

  /** EXACT-SUBSTRING duplication scan (sliding `n`-token windows) over a
    * prepared `(id, _hp)` token-hash-pair table: per document, total span
    * positions and positions whose span recurs in another document — the
    * signal behind exact-substring dedup of training corpora (suffix-array
    * style; the hash-window form trades the suffix array's exact maximal
    * matches for embarrassingly parallel shuffles). Output: (id, nspans,
    * ndup). */
  def spanDuplicationFromHp(hp: DataFrame, n: Int): DataFrame =
    unitDuplication(
      hp.select(col("id"),
        explode(spanHashes(col("_hp"), n, 1)).as("h")),
      "nspans", "ndup")

  /** EXACT-DEDUP-FIRST span duplication over prepared digest-group tables
    * (`groups` = one row per distinct text `(digest, rep, _hp)`,
    * `members` = `(id, digest)`): span totals are pure functions of the
    * text, so they compute per REPRESENTATIVE and expand over the digest
    * groups; the cross-document flag lifts exactly because group members
    * contain a span iff their rep does —
    *
    *   distinct docs containing h  =  Σ over groups g containing h of |g|
    *
    * so `_xdoc(h) = that sum ≥ 2`, computed from the rep-level span table
    * plus group sizes. Output is identical row for row to
    * [[spanDuplicationFromHp]] over all documents, but the explode, both
    * hash shuffles, and the per-hash aggregation run at DISTINCT-TEXT
    * size — under d-fold duplication, d× less of everything (the same
    * composition as [[exactFirstClusters]] / [[simhashPairsExactFirst]]).
    */
  def spanDuplicationFromGroups(groups: DataFrame, members: DataFrame,
      n: Int, stride: Int, totalCol: String, dupCol: String): DataFrame = {
    val gsz = members.groupBy(col("digest")).agg(count(lit(1)).as("_gsz"))
    // Group size rides WITH the units (gsz joins the group table before
    // the explode, 1:1), so the whole flag pipeline is the same
    // single-consumer shape as unitDuplication: one exchange on h, the
    // (h, rep) aggregate and the Σ|g| window both partition-local, then
    // one rep-level aggregation.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val repCounts = groups.join(gsz, "digest")
      .select(col("rep"), col("_gsz"),
        explode(spanHashes(col("_hp"), n, stride)).as("h"))
      .repartition(col("h"))
      .groupBy(col("h"), col("rep"), col("_gsz"))
      .agg(count(lit(1)).as("_npos"))
      .withColumn("_xdoc", sum(col("_gsz")).over(w) >= 2)
      .groupBy(col("rep"))
      .agg(sum(col("_npos")).as(totalCol),
        sum(when(col("_xdoc"), col("_npos")).otherwise(0L)).as(dupCol))
    members.join(groups.select(col("digest"), col("rep")), "digest")
      .join(repCounts, "rep")
      .select(col("id"), col(totalCol), col(dupCol))
  }

  /** PARAGRAPH-unit duplication for corpora WITHOUT structural separators:
    * non-overlapping `n`-token blocks as the paragraph analog (trailing
    * partial block included). For real corpora with separators, use
    * [[paragraphDuplication]]. Output: (id, nblocks, ndup). */
  def blockDuplicationFromHp(hp: DataFrame, n: Int): DataFrame =
    unitDuplication(
      hp.select(col("id"),
        explode(spanHashes(col("_hp"), n, n)).as("h")),
      "nblocks", "ndup")

  /** C4-style paragraph-level duplication over raw text: split on
    * `sepRegex` (default blank-line-or-newline), drop empty paragraphs,
    * hash each, count cross-document recurrence per doc. Output: (id,
    * nparas, ndup). Same one-shuffle economics as
    * [[spanDuplicationFromHp]]. */
  def paragraphDuplication(docs: DataFrame, idCol: String, textCol: String,
      sepRegex: String = "\n+"): DataFrame =
    unitDuplication(
      docs.select(col(idCol).as("id"),
          explode(split(col(textCol), sepRegex)).as("p"))
        .where(trim(col("p")) =!= "")
        .select(col("id"), h64(trim(col("p"))).as("h")),
      "nparas", "ndup")

  /** INCREMENTAL exact dedup: which `batch` documents already exist (by
    * content digest) in `corpus`? Returns ONE ROW PER BATCH DOC —
    * `(id, keeper)` with `keeper` = the minimum corpus doc id holding the
    * same text, or -1 when the batch doc is new.
    *
    * The 100 TB shape: THE CORPUS NEVER SHUFFLES. The batch's distinct
    * digests are corpus-independent and usually dimension-sized, so they
    * broadcast; the corpus scan is filtered map-side and only matching
    * digests (∝ duplicate mass) reach the min-keeper aggregation. Past the
    * broadcast byte gate, an exact digest set no longer fits — a Bloom
    * filter of the batch digests (~10 bits/digest vs ~72 bytes/digest for
    * the broadcast hash set) takes its place as the map-side prefilter,
    * and its false positives die in the exact digest join that follows, so
    * the result stays exact while corpus-side shuffled bytes stay
    * ∝ duplicates + FP·corpus. The bloom path is the only sketch-based
    * operator in the pipeline. */
  def incrementalExact(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = corpus.sparkSession
    // PROVABLY NON-NULL digest on the corpus side: the semi-join infers
    // isnotnull(digest) and alias substitution would push the md5 into
    // the corpus scan filter — two full-text digests per corpus row
    // (round-12 plan audit; constraint inference is not function-aware,
    // so an explicit isnotnull(text) does not cancel it). coalesce with
    // a literal makes the attribute non-nullable, so the constraint is
    // never generated and the digest evaluates once. The coalesce arm is
    // dead under the not-null text filter (null text never matches a
    // batch digest anyway — semantics unchanged).
    val corpusD = corpus.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("cid"),
        coalesce(md5(col(textCol)), lit("")).as("digest"))
    val batchD = batch.select(col(idCol).cast("long").as("id"),
      md5(col(textCol)).as("digest"))
      .graftCheckpoint(true) // read by the digest-set build AND the final join
    val nDigests = batchD.select(col("digest")).distinct().count()
    // ~72 bytes per broadcast-hash-relation row of one 32-char digest;
    // broadcasts disabled take the sketch path like an oversized set.
    val exactSetFits = graft.kernel.RddKernel.broadcastable(spark, nDigests, 72L)
    val matches =
      if (exactSetFits) {
        corpusD.join(broadcast(batchD.select(col("digest")).distinct()),
          Seq("digest"), "left_semi")
      } else {
        // Sketch path: bloom prefilter map-side, exactness restored by the
        // digest equi-join below (FPs find no batch digest and drop out).
        // Built and probed with Catalyst's native bloom expressions
        // (BloomFilterAggregate / BloomFilterMightContain over
        // xxhash64 — both codegen'd; the same machinery Spark's injected
        // runtime filters use), replacing what was the pipeline's last
        // hot-path Scala UDF.
        val spark2 = corpusD.sparkSession
        graft.functions.NativeBloom.register(spark2)
        val numBits = math.max(nDigests, 1L) * 10L // ~fpp 0.01
        // BloomFilterAggregate silently clamps to the session's
        // runtime.bloomFilter.maxNumItems/maxNumBits (defaults 4M / ~67M)
        // — past ~4-6M digests the clamp would collapse the prefilter's
        // selectivity (correctness is unaffected; the digest equi-join
        // stays exact). Raise both caps THREAD-LOCALLY to the requested
        // size for this build: SQLConf.withExistingConf scopes the
        // override to this action (conf propagates to its tasks), leaving
        // the session's runtime-filter settings untouched.
        val bloomConf = org.apache.spark.sql.internal.SQLConf.get.clone()
        bloomConf.setConfString(
          "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
          math.max(math.max(nDigests, 1L), 4000000L).toString)
        bloomConf.setConfString(
          "spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
          math.max(numBits, 67108864L).toString)
        val bfBytes =
          org.apache.spark.sql.internal.SQLConf.withExistingConf(bloomConf) {
            batchD.select(call_function(
                graft.functions.NativeBloom.aggName,
                xxhash64(col("digest")), lit(math.max(nDigests, 1L)),
                lit(numBits)).as("bf"))
              .head().getAs[Array[Byte]](0)
          }
        corpusD.where(call_function(graft.functions.NativeBloom.probeName,
          lit(bfBytes), xxhash64(col("digest"))))
      }
    val keepers = matches.groupBy(col("digest"))
      .agg(min(col("cid")).as("keeper"))
    batchD.join(keepers, Seq("digest"), "left")
      .select(col("id"), coalesce(col("keeper"), lit(-1L)).as("keeper"))
  }

  /** Exact word n-gram Jaccard for given (a, b) candidate pairs, returned
    * as exact integers (intersection, union) to stay float-free. Set sizes
    * come from a per-row array expression (no explode, no shuffle); the
    * exploded shingle table feeds both sides of the intersection join, so
    * it is materialized once instead of re-shingling every document twice. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame =
    ngramJaccardFromHp(
      docs.select(col(idCol).as("id"), tokenHashPairs(col(textCol)).as("_hp")),
      pairs, n)

  /** EXACT-DEDUP-FIRST LSH-candidate Jaccard verification over prepared
    * digest-group tables — the same expansion argument as
    * [[simhashPairsExactFirst]] applied to the MinHash path: identical
    * texts have identical signatures, so the all-docs LSH candidate-pair
    * set is exactly the expansion of the REP-level candidate set (cross-
    * group pairs at the rep pair's intersection/union) plus all
    * same-digest pairs (self-similarity: inter = uni = the text's
    * distinct-shingle count, a per-row array expression — no explode).
    * Output identical row for row to [[ngramJaccardFromHp]] over the
    * all-docs candidate pairs; the shingle-collision join — the dominant
    * cost, which the sf1 run showed growing with the SQUARE of the
    * duplication factor — runs at distinct-text size. */
  def ngramJaccardExactFirstFromGroups(groups: DataFrame, members: DataFrame,
      n: Int = 3, perms: Int = 8, bands: Int = 4): DataFrame = {
    val repHp = groups.select(col("rep").as("id"), col("_hp"))
    val repPairs = candidatePairs(lshBuckets(minhashFromHp(repHp, n, perms),
      perms, bands))
    val repJac = ngramJaccardFromHp(repHp, repPairs, n)
    val gm = members
      .join(groups.select(col("digest"), col("rep")), "digest")
      .select(col("id"), col("rep"), col("digest"))
      .graftCheckpoint(true) // read by the cross expansion AND intra pairs
    val cross = repJac
      .join(gm.select(col("id").as("ia"), col("rep").as("ra")), col("a") === col("ra"))
      .join(gm.select(col("id").as("ib"), col("rep").as("rb")), col("b") === col("rb"))
      .select(least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"), col("inter"), col("uni"))
    val sz = groups.select(col("digest"),
      size(array_distinct(shingleHashWindows(col("_hp"), n))).cast("long").as("_sz"))
    val intra = gm.select(col("id").as("ia"), col("digest"))
      .join(gm.select(col("id").as("ib"), col("digest")), Seq("digest"))
      .where(col("ia") < col("ib"))
      .join(sz, "digest")
      .select(col("ia").as("a"), col("ib").as("b"),
        col("_sz").as("inter"), col("_sz").as("uni"))
    cross.union(intra)
  }

  /** [[ngramJaccard]] over a prepared `(id, _hp)` table (shared hash pass,
    * see [[minhashFromHp]]). */
  def ngramJaccardFromHp(hp: DataFrame, pairs: DataFrame,
      n: Int = 3): DataFrame = {
    // Shingles are compared by their (s1, s2) hash pair — no shingle
    // strings are built or shuffled; both the intersection join and the
    // oracle use the identical scheme.
    val sh = hp
      .select(col("id"), explode(array_distinct(
        shingleHashWindows(col("_hp"), n))).as("s"))
      .graftCheckpoint(true)
    val a = sh.toDF("a", "s")
    val b = sh.toDF("b", "s")
    // Distinct-shingle set sizes from the materialized table (one cheap
    // shuffle; every document has at least one shingle).
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
      .toDF("id", "sz")
    // Equi-join on the shingle itself: work is proportional to shingle
    // collisions, not |pairs| × |shingles|.
    val inter = a.join(b, Seq("s"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("a", "b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.toDF("a", "sza"), "a")
      .join(sizes.toDF("b", "szb"), "b")
      .select(col("a"), col("b"), col("inter"),
        (col("sza") + col("szb") - col("inter")).as("uni"))
  }
}
