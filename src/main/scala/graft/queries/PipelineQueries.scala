package graft.queries

import graft.kernel.Ckpt._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.functions.Portable
import graft.functions.Portable._
import graft.pipeline.{Dedup, PortablePlanes, Sampling, Similarity, Temporal, TextAnalysis}

/** Training-data-pipeline query surface: deduplication, similarity search,
  * text analysis — each with a DuckDB oracle that reproduces the result
  * exactly (portable md5-derived hashing, integer-quantized similarity,
  * float-free outputs). */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Q.table(s, dir, "documents")
  private def embeds(s: SparkSession, dir: String): DataFrame =
    Q.table(s, dir, "embeddings")

  /** Cast int columns to long so parquet dtypes match DuckDB's BIGINT. */
  private def longify(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == IntegerType) col(f.name).cast("long").as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)

  val MinhashPerms = 8
  val MinhashBands = 4
  val SimhashBits = 32
  val ShingleN = 3

  // LSH candidate pairs are consumed by BOTH q_dedup_minhash_pairs and
  // q_dedup_jaccard — share one checkpointed pair table per (session, SF)
  // instead of re-hashing every shingle twice (the pipeline analog of the
  // cross-query rule cache).
  private val pairsCache =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]
  private val hpCache =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]
  private val bucketsCache =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]
  private val groupsCache =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]
  private val membersCache =
    scala.collection.mutable.Map.empty[(SparkSession, String), DataFrame]

  // One md5 pass per token per document per (session, SF): every
  // shingle-based query (minhash/LSH pairs, jaccard, contamination) reads
  // this checkpointed (id, _hp) table instead of re-hashing the corpus.
  private def docsHp(s: SparkSession, dir: String): DataFrame =
    synchronized {
      hpCache.getOrElseUpdate((s, dir),
        docs(s, dir).select(col("doc_id").as("id"),
          Portable.tokenHashPairs(col("text")).as("_hp")).graftCheckpoint(true))
    }

  // The LSH bucket table feeds two pair shapes: full pairs for pairwise
  // verification (minhash_pairs, jaccard) and star-capped pairs for
  // clustering — materialize it once.
  private def lshBucketTable(s: SparkSession, dir: String): DataFrame =
    synchronized {
      bucketsCache.getOrElseUpdate((s, dir),
        Dedup.lshBuckets(
          Dedup.minhashFromHp(docsHp(s, dir), ShingleN, MinhashPerms),
          MinhashPerms, MinhashBands).graftCheckpoint(true))
    }

  private def lshCandidatePairs(s: SparkSession, dir: String): DataFrame =
    synchronized {
      pairsCache.getOrElseUpdate((s, dir),
        Dedup.candidatePairs(lshBucketTable(s, dir)).graftCheckpoint(true))
    }

  // The exact-first family (q_dedup_exact_first, q_contamination_
  // exact_first) shares ONE digest-group pass over the corpus: `groups`
  // is one row per distinct text (digest, rep = min doc id, _hp) with
  // the per-token md5 hash pairs ALREADY computed — each distinct text
  // is token-hashed once for the whole family — and `members` maps
  // every doc (id, digest).
  private def digestGroups(s: SparkSession, dir: String): DataFrame =
    synchronized {
      groupsCache.getOrElseUpdate((s, dir),
        docs(s, dir)
          .select(col("doc_id").cast("long").as("id"), col("text"))
          .groupBy(md5(col("text")).as("digest"))
          .agg(min(col("id")).as("rep"), first(col("text")).as("text"))
          .select(col("digest"), col("rep"),
            Portable.tokenHashPairs(col("text")).as("_hp"))
          .graftCheckpoint(true))
    }

  private def digestMembers(s: SparkSession, dir: String): DataFrame =
    synchronized {
      membersCache.getOrElseUpdate((s, dir),
        docs(s, dir)
          .select(col("doc_id").cast("long").as("id"),
            md5(col("text")).as("digest"))
          .graftCheckpoint(true))
    }

  /** Exact-dedup-first contamination scan: shingle/join only distinct
    * texts, expand the rep-level pair table over digest groups —
    * identical rows to the direct scan, d² less join work under d-fold
    * duplication. Both sides restrict the SHARED global digest-group
    * checkpoint (rep ids only key the internal expansion, so a global
    * rep works for each side). The SERVED q_contamination plan since
    * round 13; q_contamination_exact_first remains as the named twin
    * keeping the row-identity claim on the oracle surface. */
  private def contaminationExactFirst(s: SparkSession, dir: String): DataFrame = {
    val g = digestGroups(s, dir)
    val m = digestMembers(s, dir)
    val corpusM = m.where(pmod(col("id"), lit(20)) =!= 0)
    val benchM = m.where(pmod(col("id"), lit(20)) === 0)
    // Corpus side uses the UNRESTRICTED global groups (it covers ~95%
    // of digests; bench-only reps drop out in the expansion join, so
    // rows are identical and the semi-join isn't worth its shuffle).
    // The bench side IS restricted — it must stay dimension-sized so
    // the rep-level overlap join broadcasts it.
    val bg = g.join(benchM.select(col("digest")).distinct(),
      Seq("digest"), "left_semi")
    longify(TextAnalysis.ngramOverlapExactFirstFromGroups(
      g, corpusM, bg, benchM, 4))
  }

  /** Force-build every cross-query shared artifact for `(s, dir)` —
    * the corpus token-hash pass, the LSH bucket/pair tables, and the
    * digest-group family (all eagerly checkpointed memo entries above).
    * Bench calls this under its own timing cell (`a_shared_artifacts`)
    * so consumer cells price their OWN plans instead of whichever query
    * alphabetically first touches a shared checkpoint (the round-13
    * attribution adjudications: q_dedup_clusters at sf1 was ~80%
    * artifact build; q_contamination moved when exact-first became its
    * default). */
  def prebuildSharedArtifacts(s: SparkSession, dir: String): Unit = {
    docsHp(s, dir)
    lshBucketTable(s, dir)
    lshCandidatePairs(s, dir)
    digestGroups(s, dir)
    digestMembers(s, dir)
    ()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir), "doc_id", "text")),

    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashFromHp(docsHp(s, dir), ShingleN, 4)),

    "q_dedup_minhash_pairs" -> ((s, dir) => lshCandidatePairs(s, dir)),

    "q_dedup_minhash_est" -> ((s, dir) =>
      // Signature-agreement Jaccard estimate over the LSH candidate pairs
      // — the cheap pre-verifier before exact shingle Jaccard.
      Dedup.minhashJaccardEstimate(
        Dedup.minhashFromHp(docsHp(s, dir), ShingleN, MinhashPerms),
        lshCandidatePairs(s, dir), MinhashPerms)),

    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(docs(s, dir), "doc_id", "text", SimhashBits)),

    "q_dedup_jaccard" -> ((s, dir) =>
      // Candidate pairs from the LSH banding path (bucket-keyed
      // self-join — a length-equality blocker would make the biggest
      // length bucket one task at 100×), EXACT-FIRST: the shingle
      // collision join — whose work the sf1 run showed growing with the
      // square of the duplication factor — runs at distinct-text size,
      // and the rep-level (inter, uni) table expands over digest groups
      // (identical rows; same-digest pairs are inter = uni = shingle
      // count).
      Dedup.ngramJaccardExactFirstFromGroups(digestGroups(s, dir),
        digestMembers(s, dir), ShingleN, MinhashPerms, MinhashBands)),

    "q_dedup_clusters" -> ((s, dir) =>
      // Pairwise LSH hits -> dedup groups: connected components with the
      // component-minimum id as cluster label; `keep` marks the canonical
      // representative each group retains. Clustering consumes STAR-CAPPED
      // pairs (identical components, linear in bucket size) — the
      // duplication-heavy-corpus guard; see Dedup.clusterPairs.
      Dedup.connectedComponents(Dedup.clusterPairs(lshBucketTable(s, dir)),
        docs(s, dir), "doc_id")),

    "q_dedup_exact_first" -> ((s, dir) =>
      // Exact-dedup-first composition: shingle/LSH only distinct texts,
      // expand cluster labels over digest groups — identical labels to
      // q_dedup_clusters at shingling cost ∝ distinct texts (the 100 TB
      // prescription of SCALE_NOTES.md). Groups/members come from the
      // shared checkpoint (one md5 pass for the whole exact-first family).
      Dedup.exactFirstClustersFromGroups(digestGroups(s, dir),
        digestMembers(s, dir),
        docs(s, dir).select(col("doc_id").cast("long").as("id")),
        ShingleN, MinhashPerms, MinhashBands)),

    "q_dedup_simhash_pairs" -> ((s, dir) =>
      // SimHash Hamming near-dups, EXACT-FIRST (band only distinct texts,
      // expand over digest groups — identical rows, the banded self-join
      // at distinct-text size). 60-bit signature in 4 contiguous 15-bit
      // bands: band width is the scale dial (15 bits discriminate ~32k·k
      // distinct texts; widen signature/bands for bigger corpora), and
      // pigeonhole guarantees every pair within Hamming distance 3 (< 4
      // bands) agrees on one whole band.
      Dedup.simhashPairsExactFirst(docs(s, dir), "doc_id", "text",
        bits = 60, bands = 4, maxDist = 3)),

    "q_text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopK(docs(s, dir), "doc_id", "text", 3)),

    "q_corpus_clean" -> ((s, dir) =>
      // The end-to-end cleaning verdict: exact-dedup keeper + token-length
      // band + within-doc repetition filter, one row per document.
      TextAnalysis.cleanVerdicts(docs(s, dir), "doc_id", "text",
        minTokens = 30, maxTokens = 80, ngramN = ShingleN)),

    "q_dedup_spans" -> ((s, dir) =>
      // Exact-substring duplication (sliding 8-token windows): per doc,
      // how many span positions recur in another document — the
      // suffix-array dedup signal in hash-window form. EXACT-FIRST over
      // the shared digest-group checkpoints: spans explode and aggregate
      // at distinct-text size, counts expand over the groups (identical
      // rows; Dedup.spanDuplicationFromHp is the direct form).
      Dedup.spanDuplicationFromGroups(digestGroups(s, dir),
        digestMembers(s, dir), 8, 1, "nspans", "ndup")),

    "q_dedup_paragraph" -> ((s, dir) =>
      // Paragraph-unit duplication. The synthetic corpus has no structural
      // separators (no newlines/punctuation), so the paragraph unit is the
      // non-overlapping 16-token block; real corpora use
      // Dedup.paragraphDuplication (separator split) — same counting core.
      Dedup.blockDuplicationFromHp(docsHp(s, dir), 16)),

    "q_dedup_incremental" -> ((s, dir) => {
      // Incremental ingest dedup: even doc ids arrive as the "new batch",
      // odd ids are the standing corpus. One row per batch doc; keeper =
      // min corpus id with identical text, -1 if genuinely new. The corpus
      // side never shuffles (broadcast digest set / bloom prefilter).
      val d = docs(s, dir)
      Dedup.incrementalExact(
        d.where(pmod(col("doc_id"), lit(2)) =!= 0),
        d.where(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text")
    }),

    "q_semdedup" -> ((s, dir) =>
      // SemDeDup-style semantic dedup: IVF-cell blocking + exact
      // integer-cosine near-dup pairs + connected components, EXACT-FIRST
      // (cluster only distinct quantized vectors, expand over the groups —
      // identical labels, within-cell pair work at distinct-vector size).
      // Same τ as q_embed_neardup (the synthetic embeddings top out near
      // cosine 0.5).
      Similarity.semanticDedupExactFirst(embeds(s, dir), cells = 8, 35, 100)),

    "q_embed_neardup" -> ((s, dir) =>
      // τ = 0.35: the synthetic embeddings top out near cosine 0.5 within
      // a label, so a "real" 0.9+ near-dup threshold matches nothing —
      // the threshold is data-tuned to keep the pair path exercised.
      Similarity.quantizedNearDup(embeds(s, dir), "label", 35, 100)),

    "q_ann_topk" -> ((s, dir) =>
      Similarity.quantizedTopK(embeds(s, dir), col("id") < 3, 5)),

    "q_embed_neardup_lsh" -> ((s, dir) => {
      // Scale path: blocking by LSH bucket instead of a label column — the
      // self-join meets only inside hyperplane-signature buckets.
      val withBucket = embeds(s, dir).withColumn("_bkt",
        Similarity.lshBucketQ(Similarity.quantize(col("embedding")), dim = 64, bits = 8))
      Similarity.quantizedNearDup(withBucket, "_bkt", 35, 100)
    }),

    "q_ann_ivf" -> ((s, dir) =>
      Similarity.ivfAssign(embeds(s, dir), k = 8)),

    "q_ann_ivf_search" -> ((s, dir) =>
      // The actual ANN search over the IVF index: probe 3 of 8 cells,
      // exact re-rank within them.
      Similarity.ivfTopK(embeds(s, dir), col("id") < 3, k = 5,
        cells = 8, nprobe = 3)),

    "q_ann_lsh" -> ((s, dir) =>
      embeds(s, dir).select(col("vec_id").cast("long").as("id"),
        Similarity.lshBucketQ(
          Similarity.quantize(col("embedding")), dim = 64, bits = 8).as("bucket"))),

    "q_ann_pq" -> ((s, dir) =>
      // Product-quantization codes: 8 one-byte codes replace 64 floats —
      // the memory side of cluster-resident ANN. Assignment is shuffle-
      // free (broadcast codebook row, per-row expression argmin).
      Similarity.pqCodes(embeds(s, dir), m = 8, ksub = 16, dim = 64)),

    "q_ann_pq_search" -> ((s, dir) =>
      // ADC search over the code table: per-query LUT broadcast, corpus
      // scanned as codes, approximate dot = 8 table lookups per candidate.
      Similarity.pqTopK(embeds(s, dir), col("id") < 3, k = 5,
        m = 8, ksub = 16, dim = 64)),

    "q_text_tokens" -> ((s, dir) => longify(
      docs(s, dir).select(col("doc_id").as("id"),
        TextAnalysis.tokenCount(col("text")).as("ntokens")))),

    "q_text_tokens_bpe" -> ((s, dir) => longify(
      docs(s, dir).select(col("doc_id").as("id"),
        TextAnalysis.bpeishTokenCount(col("text")).as("ntokens")))),

    "q_text_quality" -> ((s, dir) => longify(
      TextAnalysis.qualityFacets(docs(s, dir), "doc_id", "text"))),

    "q_text_langid" -> ((s, dir) => longify(
      TextAnalysis.languageId(docs(s, dir), "doc_id", "text"))),

    "q_text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir), "doc_id", "text")),

    "q_text_pii" -> ((s, dir) => {
      // The corpus has no PII-shaped text, so the cell builds its own
      // input INSIDE the query: one deterministic synthetic PII snippet
      // per sampled doc id (round-robin over PiiSnippets), redacted by
      // the native 5-regex codegen chain and audited via placeholder
      // token counts — the DuckDB oracle reproduces both from the same
      // VALUES list. The 42-row sample is oracle-harness construction;
      // the redaction chain itself is one codegen pass, no shuffle,
      // corpus-scale parallel.
      val snips = TextAnalysis.PiiSnippets
      val rows = docs(s, dir)
        .select(col("doc_id").cast("long").as("id"))
        .orderBy(col("id")).limit(42)
        .withColumn("rn",
          row_number().over(Window.orderBy(col("id"))).cast("long") - 1L)
        .withColumn("text", element_at(array(snips.map(lit): _*),
          (col("rn") % snips.length).cast("int") + 1))
      TextAnalysis.piiAudit(rows, "id", "text")
    }),

    "q_multimodal_features" -> ((s, dir) => {
      // REAL container-header decode over opaque binary media: each doc's
      // text is wrapped in a genuine PNG / BMP / WAV container (dims and
      // byte rate derived from doc columns), the payload crosses the
      // pipeline as an opaque binary column, and HeaderDecoder sniffs the
      // magic bytes and parses the actual header fields — big-endian
      // IHDR, little-endian DIB, RIFF byte-rate duration. The oracle
      // recomputes the expected decoded fields from the SAME doc columns,
      // so any mis-parse (endianness, offset, chunk walk) mismatches.
      import graft.pipeline.Multimodal
      import s.implicits._
      val rows = docs(s, dir)
        .select(col("doc_id").cast("long").as("id"),
          col("n_chars").cast("long").as("nc"), col("text"))
        .as[(Long, Long, String)]
        .map { case (id, nc, text) =>
          val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val w = (nc % 1024 + 1).toInt
          val h = (id % 512 + 1).toInt
          val (modality, bytes) = (id % 3) match {
            case 0 => ("image", Multimodal.Containers.png(w, h, payload))
            case 1 => ("image", Multimodal.Containers.bmp(w, h, payload))
            case _ => ("audio", Multimodal.Containers.wav(16000, payload))
          }
          Multimodal.MediaRow(id, modality, bytes, "application/octet-stream")
        }
      Multimodal.extractFeatures(rows, partitions = Some(8)).toDF()
        .select(col("id"), col("modality"), col("format"),
          col("byteLength").as("byte_length"), col("width"), col("height"),
          col("durationMs").as("duration_ms"))
    }),

    "q_multimodal_frames" -> ((s, dir) => {
      // Frame sampling over opaque video payloads: every 2nd fixed-size
      // chunk, with its ordering index — the explode shape a real frame
      // extractor produces. Deterministic chunking, so DuckDB reproduces
      // it with substr arithmetic.
      import graft.pipeline.Multimodal
      val media = Multimodal.fromBinary(
        docs(s, dir).select(col("doc_id"), col("text").cast("binary").as("b")),
        "doc_id", "b", "video", "application/octet-stream")
      Multimodal.sampleFrames(media, stride = 2, frameSize = 64).toDF()
        // Hex-encode the payload: binary columns don't survive the
        // oracle's sort/hash compare (unhashable in pandas).
        .select(col("id"), col("frameIdx").as("frame_idx"),
          hex(col("frameBytes")).as("frame_hex"))
    }),

    "q_topk_per_group" -> ((s, dir) =>
      // Corpus shaping: the 3 longest documents per language.
      graft.pipeline.Sampling.topKPerGroup(
        docs(s, dir).select(col("lang"), col("doc_id").cast("long").as("id"),
          col("n_chars").cast("long").as("nchars")),
        Seq("lang"), col("nchars"), col("id"), 3)),

    "q_sample_stratified" -> ((s, dir) =>
      // Deterministic per-language sampling rates (per-mille): membership
      // is a pure function of the doc id — no shuffle, no RNG state.
      graft.pipeline.Sampling.stratified(docs(s, dir), "doc_id", "lang",
          Map("en" -> 500, "zh" -> 100), 250)
        .select(col("doc_id").cast("long").as("id"), col("lang"))),

    "q_shard_shuffle" -> ((s, dir) =>
      // Deterministic training-shard shuffle: hash-ordered global
      // permutation split into 8 shards, each row's position derivable
      // from the ids alone (no RNG state, reproducible at any cluster
      // size — one shard-keyed shuffle + per-partition sort).
      graft.pipeline.Sampling.shardShuffle(docs(s, dir), "doc_id", 8)),

    "q_text_lm_score" -> ((s, dir) =>
      // Self-trained unigram LM quality score, ppm-quantized: vocabulary
      // counted over the corpus itself, each document scored by the sum
      // and min of its tokens' corpus probabilities — exact integer
      // arithmetic end to end.
      TextAnalysis.unigramLmScore(docs(s, dir), "doc_id", "text")),

    "q_agg_hll" -> ((s, dir) =>
      // Deterministic HyperLogLog register table over document texts: the
      // 100 TB COUNT(DISTINCT) primitive — per-partition state is a fixed
      // 64-entry max table, registers merge by element-wise max across
      // shards/streams. md5-portable hash + bin()-length rank, so the
      // REGISTERS (not just the estimate) are oracle-exact.
      graft.pipeline.Sketches.hllRegisters(docs(s, dir), col("text"))),

    "q_agg_cms" -> ((s, dir) =>
      // Deterministic Count-Min register table over document tokens: the
      // 100 TB heavy-hitter screen — per-partition state is a fixed
      // depth x width counter table, registers merge by element-wise SUM
      // across shards/streams, a term's estimate is min-over-seeds of
      // its bucket. Portable seeded md5 hashing, so the REGISTERS are
      // oracle-exact.
      graft.pipeline.Sketches.cmRegisters(docs(s, dir), col("text"))),

    "q_agg_rollup" -> ((s, dir) =>
      // Corpus stats at every (source, lang) grouping level in ONE pass —
      // rollup's partial aggregates reuse the same map-side combine, where
      // three separate groupBys would scan three times.
      docs(s, dir).rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("toks"))),

    "q_rolling" -> ((s, dir) =>
      // Trailing-7-event activity stats per user: one hash exchange, one
      // sort, all four aggregates in a single WindowExec sweep. The value
      // column is quantized to cents so the stats are exact integers.
      Temporal.rollingStats(
        Q.table(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"), round(col("value") * 100).cast("long").as("cents")),
        "user_id", "ts", "event_id", "cents", n = 7)
        .select(col("event_id").as("eid"), col("user_id").as("u"),
          col("rcount"), col("rsum"), col("rmin"), col("rmax"))),

    "q_rolling_time" -> ((s, dir) => {
      // Trailing-1-hour activity stats per user (RANGE frame: the window
      // is defined by the timestamp value, so no tie column — equal
      // timestamps are peers). ts is normalized to epoch-µs LONG at read
      // so the BIGINT range frame is well-typed whatever parquet type the
      // testdata shipped (timestamp[us] today, nanos-as-long before).
      val ev = Q.table(s, dir, "events")
      Temporal.rollingStatsRange(
        ev.select(col("event_id"), col("user_id"),
          Q.tsMicros(ev, "ts").as("ts"),
          round(col("value") * 100).cast("long").as("cents")),
        "user_id", "ts", "cents", window = 3600L * 1000 * 1000)
        .select(col("event_id").as("eid"), col("user_id").as("u"),
          col("rcount"), col("rsum"), col("rmin"), col("rmax"))
    }),

    "q_mix_budget" -> ((s, dir) =>
      // Data-mixture primitive: longest documents first per source until
      // each source's 700-token budget is spent (one window sweep).
      Sampling.tokenBudgetPerStratum(
        docs(s, dir).select(col("doc_id").as("id"), col("source").as("src"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("nt")),
        "src", "nt", order = col("nt"), tie = col("id"),
        budgets = Map.empty, defaultBudget = 700L)),

    "q_pack_sequences" -> ((s, dir) =>
      // GPT-style sequence packing: concat docs per source shard in id
      // order, chunk into 256-token context windows; bin = the window the
      // doc starts in (docs may straddle boundaries — the tokenizer
      // splits them downstream).
      Sampling.packSequences(
        docs(s, dir).select(col("doc_id").as("id"), col("source").as("src"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("nt")),
        "src", "nt", tie = col("id"), capacity = 256L)),

    "q_contamination" -> ((s, dir) =>
      // Benchmark-contamination scan: 4-gram overlap of the corpus against
      // a held-out benchmark slice (doc_id % 20 == 0), keyed by n-gram
      // hash (work ∝ collisions, never corpus × benchmark). SERVED plan
      // is EXACT-FIRST since round 13 (the direct scan was the worst
      // non-stale sf1 ratio at 6.3× — its n-gram collision mass grows
      // with duplication, which exact-first removes up front; rows are
      // identical, `ExactFirstPropertySpec`).
      contaminationExactFirst(s, dir)),

    "q_contamination_exact_first" -> (contaminationExactFirst(_, _)),

    "q_embed_centroid" -> ((s, dir) =>
      Similarity.centroids(embeds(s, dir), "label")),

    "q_embed_project" -> ((s, dir) =>
      // JL-style dimensionality reduction: 64 -> 8 dims via a
      // deterministic portable-hash ±1 matrix; pure per-row map.
      Similarity.randomProjection(embeds(s, dir), k = 8, dim = 64)),

    "q_text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(docsHp(s, dir), ShingleN)),

    "q_asof_join" -> ((s, dir) => {
      // Point-in-time join on the event stream: each click picks up the
      // latest view (ts <= click ts) by the same user — union + window,
      // one shuffle, no range-join explosion.
      import graft.pipeline.Temporal
      val ev = Q.table(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_id").as("view_id"))
      Temporal.asOfJoin(clicks, views, Seq("user_id"), "ts", "event_id",
          Seq("view_id"))
        .select(col("event_id").as("click_id"), col("user_id").as("u"),
          col("view_id"))
    }),

    "q_sessionize" -> ((s, dir) => {
      // Gap-based sessions over the event stream: a >30-minute silence
      // starts a new session. ts normalized to epoch-µs LONG at read so
      // the gap comparison is integer arithmetic whatever parquet type
      // the testdata shipped.
      import graft.pipeline.Temporal
      val ev = Q.table(s, dir, "events")
      Temporal.sessionize(
        ev.select(col("event_id"), col("user_id"),
          Q.tsMicros(ev, "ts").as("ts")),
        "user_id", "ts", "event_id", gap = 30L * 60 * 1000 * 1000)
        .select(col("event_id").as("eid"), col("user_id").as("u"),
          col("session"))
    }),

    "q_lww_batch" -> ((s, dir) => {
      // Batch analog of the LastWriteWins input semantics over the events
      // stream table: latest event's value per user (ties by event_id).
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Q.table(s, dir, "events")
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .select(col("user_id").as("u"), col("event_type").as("last_type"))
    })
  )

  // ------------------------------------------------------------- oracles

  private def sigSql(perms: Int): String = {
    val mins = (0 until perms)
      .map(j => s"MIN(s.s1 + $j * s.s2) AS m$j").mkString(", ")
    s"""SELECT CAST(doc_id AS BIGINT) AS id, $mins
        FROM (SELECT doc_id, unnest(${shingleHashPairsSql("text", ShingleN)}) AS s
              FROM documents)
        GROUP BY 1"""
  }

  private def bandsSql: String = {
    val rows = MinhashPerms / MinhashBands
    (0 until MinhashBands).map { b =>
      val parts = (0 until rows).map(r => s"CAST(m${b * rows + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT id, $b AS band, ${h64Sql(parts)} AS bucket FROM sig"
    }.mkString(" UNION ALL ")
  }

  private lazy val contaminationOracleSql =
    s"""WITH shd AS (SELECT DISTINCT CAST(doc_id AS BIGINT) AS id, s
                     FROM (SELECT doc_id,
                                  unnest(${shingleHashPairsSql("text", 4)}) AS s
                           FROM documents)),
        c AS (SELECT * FROM shd WHERE id % 20 <> 0),
        b AS (SELECT * FROM shd WHERE id % 20 = 0),
        sz AS (SELECT id, CAST(count(*) AS BIGINT) AS corpus_sz FROM c GROUP BY 1)
        SELECT c.id AS corpus_id, b.id AS bench_id,
               CAST(count(*) AS BIGINT) AS shared, any_value(sz.corpus_sz) AS corpus_sz
        FROM c JOIN b USING (s) JOIN sz ON sz.id = c.id
        GROUP BY 1, 2"""

  private lazy val clustersOracleSql =
    s"""WITH RECURSIVE sig AS (${sigSql(MinhashPerms)}), bands AS ($bandsSql),
        pairs AS (SELECT DISTINCT l.id AS a, r.id AS b
                  FROM bands l JOIN bands r USING (band, bucket)
                  WHERE l.id < r.id),
        edges AS (SELECT a AS s, b AS d FROM pairs
                  UNION SELECT b, a FROM pairs),
        reach(id, r) AS (
          SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM documents
          UNION
          SELECT e.d, re.r FROM reach re JOIN edges e ON e.s = re.id)
        SELECT id, MIN(r) AS cluster, (id = MIN(r)) AS keep
        FROM reach GROUP BY id"""

  private val qvSql =
    "list_transform(embedding, x -> CAST(round(x * 100) AS BIGINT))"

  // Product-quantization layout shared by q_ann_pq / q_ann_pq_search:
  // 64 dims split into PqM subvectors of PqD, PqKsub centroids per
  // subspace (the quantized vectors of the 16 lowest ids, in id order).
  private val PqM = 8
  private val PqD = 8
  private val PqKsub = 16

  /** CTEs deriving the PQ code assignment (qv → cb → dist → best). */
  private lazy val pqCodesCtes =
    s"""qv AS (SELECT CAST(vec_id AS BIGINT) AS id, $qvSql AS qv
                FROM embeddings),
          cb AS (SELECT id AS c, qv AS cv FROM qv WHERE id < $PqKsub),
          jj AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS j),
          dist AS (SELECT s.id, jj.j, cb.c,
                     list_sum([(s.qv[jj.j * $PqD + i] - cb.cv[jj.j * $PqD + i])
                               * (s.qv[jj.j * $PqD + i] - cb.cv[jj.j * $PqD + i])
                               for i in generate_series(1, $PqD)]) AS d2
                   FROM qv s, jj, cb),
          best AS (SELECT id, j, c,
                     ROW_NUMBER() OVER (PARTITION BY id, j
                       ORDER BY d2 ASC, c ASC) AS rn
                   FROM dist)"""
  private def dotSql(a: String, b: String): String =
    s"CAST(list_sum([($a)[i] * ($b)[i] for i in generate_series(1, len($a))]) AS BIGINT)"

  private val stopSqls = TextAnalysis.StopwordSets.map { case (lang, words) =>
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    lang -> s"CAST(len(list_filter(toks, x -> list_contains($lst, x))) AS BIGINT)"
  }

  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(text) AS digest, CAST(min(doc_id) AS BIGINT) AS keeper,
         CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1""",

    "q_dedup_minhash" -> sigSql(4),

    "q_dedup_minhash_pairs" ->
      s"""WITH sig AS (${sigSql(MinhashPerms)}), bands AS ($bandsSql)
          SELECT DISTINCT l.id AS a, r.id AS b
          FROM bands l JOIN bands r USING (band, bucket) WHERE l.id < r.id""",

    "q_dedup_minhash_est" -> {
      val agree = (0 until MinhashPerms)
        .map(j => s"CASE WHEN sa.m$j = sb.m$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH sig AS (${sigSql(MinhashPerms)}), bands AS ($bandsSql),
          pairs AS (SELECT DISTINCT l.id AS a, r.id AS b
                    FROM bands l JOIN bands r USING (band, bucket)
                    WHERE l.id < r.id)
          SELECT p.a, p.b, CAST($agree AS BIGINT) AS agree,
                 CAST($MinhashPerms AS BIGINT) AS perms
          FROM pairs p JOIN sig sa ON sa.id = p.a JOIN sig sb ON sb.id = p.b"""
    },

    "q_dedup_simhash" -> {
      val toks = s"SELECT doc_id, unnest(${tokensSql("text")}) AS t FROM documents"
      s"""WITH tok AS (SELECT doc_id, ${h64Sql("t")} AS h FROM ($toks) WHERE t <> ''),
          bits AS (SELECT doc_id, b,
                     CASE WHEN SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
                          THEN 1::BIGINT << b ELSE 0 END AS bit
                   FROM tok, (SELECT unnest(generate_series(0, ${SimhashBits - 1})) AS b)
                   GROUP BY 1, 2)
          SELECT CAST(doc_id AS BIGINT) AS id, CAST(SUM(bit) AS BIGINT) AS simhash
          FROM bits GROUP BY 1"""
    },

    "q_dedup_jaccard" ->
      s"""WITH sig AS (${sigSql(MinhashPerms)}), bands AS ($bandsSql),
          pairs AS (SELECT DISTINCT l.id AS a, r.id AS b
                    FROM bands l JOIN bands r USING (band, bucket)
                    WHERE l.id < r.id),
          shd AS (SELECT DISTINCT CAST(doc_id AS BIGINT) AS id, s
                  FROM (SELECT doc_id, unnest(${shingleHashPairsSql("text", ShingleN)}) AS s
                        FROM documents)),
          sz AS (SELECT id, CAST(count(*) AS BIGINT) AS sz FROM shd GROUP BY 1),
          inter AS (SELECT l.id AS a, r.id AS b, CAST(count(*) AS BIGINT) AS inter
                    FROM shd l JOIN shd r USING (s) WHERE l.id < r.id GROUP BY 1, 2)
          SELECT p.a, p.b, COALESCE(i.inter, 0) AS inter,
                 CAST(za.sz + zb.sz - COALESCE(i.inter, 0) AS BIGINT) AS uni
          FROM pairs p LEFT JOIN inter i ON p.a = i.a AND p.b = i.b
          JOIN sz za ON za.id = p.a JOIN sz zb ON zb.id = p.b""",

    // Min reachable id per node over the undirected LSH candidate-pair
    // graph == the component minimum the label propagation converges to.
    "q_dedup_clusters" -> clustersOracleSql,

    // Exact-first composition produces IDENTICAL labels (an exact copy
    // shares every band bucket with its digest representative), so the
    // all-docs reachability oracle applies verbatim.
    "q_dedup_exact_first" -> clustersOracleSql,

    // Exact-first produces identical rows to the all-docs scan (identical
    // texts have identical signatures), so the direct oracle applies.
    "q_dedup_simhash_pairs" -> {
      val toks = s"SELECT doc_id, unnest(${tokensSql("text")}) AS t FROM documents"
      s"""WITH tok AS (SELECT doc_id, ${h64Sql("t")} AS h FROM ($toks) WHERE t <> ''),
          bits AS (SELECT doc_id, b,
                     CASE WHEN SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
                          THEN 1::BIGINT << b ELSE 0 END AS bit
                   FROM tok, (SELECT unnest(generate_series(0, 59)) AS b)
                   GROUP BY 1, 2),
          s AS (SELECT CAST(doc_id AS BIGINT) AS id, CAST(SUM(bit) AS BIGINT) AS sh
                FROM bits GROUP BY 1),
          banded AS (SELECT id, b AS band, (sh >> (b * 15)) & 32767 AS v, sh
                     FROM s, (SELECT unnest([0, 1, 2, 3]) AS b)),
          cand AS (SELECT DISTINCT l.id AS a, r.id AS b, l.sh AS sa, r.sh AS sb
                   FROM banded l JOIN banded r USING (band, v) WHERE l.id < r.id)
          SELECT a, b, dist FROM (
            SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS dist FROM cand)
          WHERE dist <= 3"""
    },

    "q_text_tfidf" ->
      s"""WITH tf AS (SELECT CAST(doc_id AS BIGINT) AS id, t AS term,
                             CAST(count(*) AS BIGINT) AS tf
                      FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS t
                            FROM documents)
                      WHERE t <> '' GROUP BY 1, 2),
          dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1)
          SELECT id, term, tf, df, rank FROM (
            SELECT id, term, tf, df,
                   CAST(ROW_NUMBER() OVER (PARTITION BY id
                     ORDER BY (tf * 1000000) // df DESC, term ASC) AS BIGINT) AS rank
            FROM tf JOIN dfx USING (term))
          WHERE rank <= 3""",

    "q_corpus_clean" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents),
          k AS (SELECT md5(text) AS dg, min(id) AS keeper FROM d GROUP BY 1),
          f AS (SELECT id, md5(text) AS dg,
                       CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                            ELSE len(${tokensSql("text")}) END AS BIGINT) AS nt,
                       ${shingleHashPairsSql("text", ShingleN)} AS w
                FROM d)
          SELECT id, (id = keeper) AS not_dup,
                 (nt >= 30 AND nt <= 80) AS len_ok,
                 ((len(w) - len(list_distinct(list_transform(w,
                    x -> CAST(x.s1 AS VARCHAR) || ':' || CAST(x.s2 AS VARCHAR)))))
                  * 3 < len(w)) AS rep_ok,
                 ((id = keeper) AND (nt >= 30 AND nt <= 80) AND
                  ((len(w) - len(list_distinct(list_transform(w,
                     x -> CAST(x.s1 AS VARCHAR) || ':' || CAST(x.s2 AS VARCHAR)))))
                   * 3 < len(w))) AS kept
          FROM f JOIN k USING (dg)""",

    "q_dedup_spans" ->
      s"""WITH sp AS (SELECT CAST(doc_id AS BIGINT) AS id,
                             unnest(${spanHashesSql("text", 8, 1)}) AS h
                      FROM documents),
          d AS (SELECT h, count(DISTINCT id) AS nd FROM sp GROUP BY 1)
          SELECT id, CAST(count(*) AS BIGINT) AS nspans,
                 CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS ndup
          FROM sp JOIN d USING (h) GROUP BY 1""",

    "q_dedup_paragraph" ->
      s"""WITH sp AS (SELECT CAST(doc_id AS BIGINT) AS id,
                             unnest(${spanHashesSql("text", 16, 16)}) AS h
                      FROM documents),
          d AS (SELECT h, count(DISTINCT id) AS nd FROM sp GROUP BY 1)
          SELECT id, CAST(count(*) AS BIGINT) AS nblocks,
                 CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS ndup
          FROM sp JOIN d USING (h) GROUP BY 1""",

    "q_dedup_incremental" ->
      """WITH b AS (SELECT CAST(doc_id AS BIGINT) AS id, md5(text) AS dg
                    FROM documents WHERE doc_id % 2 = 0),
         c AS (SELECT md5(text) AS dg, CAST(min(doc_id) AS BIGINT) AS keeper
               FROM documents WHERE doc_id % 2 <> 0 GROUP BY 1)
         SELECT b.id, CAST(COALESCE(c.keeper, -1) AS BIGINT) AS keeper
         FROM b LEFT JOIN c USING (dg)""",

    "q_semdedup" ->
      s"""WITH RECURSIVE s AS (SELECT CAST(vec_id AS BIGINT) AS id, $qvSql AS qv
                               FROM embeddings),
          n AS (SELECT id, qv, ${dotSql("qv", "qv")} AS nrm FROM s),
          c AS (SELECT id AS cell, qv AS cv FROM n WHERE id < 8),
          asg AS (SELECT id, cell FROM (
                    SELECT n.id, c.cell,
                           ROW_NUMBER() OVER (PARTITION BY n.id
                             ORDER BY ${dotSql("n.qv", "c.cv")} DESC, c.cell ASC) AS rn
                    FROM n, c) WHERE rn = 1),
          v AS (SELECT n.id, n.qv, n.nrm, asg.cell FROM n JOIN asg USING (id)),
          pairs AS (SELECT a, b FROM (
                      SELECT l.id AS a, r.id AS b,
                             ${dotSql("l.qv", "r.qv")} AS dotq,
                             l.nrm AS na, r.nrm AS nb
                      FROM v l JOIN v r ON l.cell = r.cell AND l.id < r.id)
                    WHERE dotq > 0 AND 10000 * dotq * dotq >= 1225 * na * nb),
          edges AS (SELECT a AS s, b AS d FROM pairs
                    UNION SELECT b, a FROM pairs),
          reach(id, r) AS (
            SELECT CAST(vec_id AS BIGINT), CAST(vec_id AS BIGINT) FROM embeddings
            UNION
            SELECT e.d, re.r FROM reach re JOIN edges e ON e.s = re.id)
          SELECT id, MIN(r) AS cluster, (id = MIN(r)) AS keep
          FROM reach GROUP BY id""",

    "q_embed_neardup" ->
      s"""WITH s AS (SELECT CAST(vec_id AS BIGINT) AS id, label, $qvSql AS qv
                     FROM embeddings),
          n AS (SELECT id, label, qv, ${dotSql("qv", "qv")} AS nrm FROM s)
          SELECT * FROM (
            SELECT l.id AS a, r.id AS b, ${dotSql("l.qv", "r.qv")} AS dotq,
                   l.nrm AS na, r.nrm AS nb
            FROM n l JOIN n r ON l.label = r.label AND l.id < r.id)
          WHERE dotq > 0 AND 10000 * dotq * dotq >= 1225 * na * nb""",

    "q_ann_topk" ->
      s"""WITH s AS (SELECT CAST(vec_id AS BIGINT) AS id, $qvSql AS qv FROM embeddings),
          n AS (SELECT id, qv, ${dotSql("qv", "qv")} AS nrm FROM s),
          scored AS (SELECT l.id AS q, r.id AS nb,
                            ${dotSql("l.qv", "r.qv")} AS dotq,
                            l.nrm AS nq, r.nrm AS nn
                     FROM n l JOIN n r ON l.id < 3 AND l.id <> r.id),
          keyed AS (SELECT q, nb,
                           CAST(CASE WHEN dotq >= 0
                                THEN (1000000 * dotq * dotq) // (nq * nn)
                                ELSE -((1000000 * dotq * dotq) // (nq * nn)) END
                                AS BIGINT) AS key
                    FROM scored)
          SELECT q, nb, key, rank FROM (
            SELECT q, nb, key,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q ORDER BY key DESC, nb ASC) AS BIGINT) AS rank
            FROM keyed)
          WHERE rank <= 5""",

    "q_embed_neardup_lsh" -> {
      val bits = (0 until 8).map { j =>
        val plane = (0 until 64).map(i => PortablePlanes.component(j, i))
          .mkString("[", ", ", "]")
        s"CASE WHEN ${dotSql("qv", s"$plane::BIGINT[]")} > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH s AS (SELECT CAST(vec_id AS BIGINT) AS id, $qvSql AS qv FROM embeddings),
          n AS (SELECT id, qv, CAST($bits AS BIGINT) AS bkt,
                       ${dotSql("qv", "qv")} AS nrm FROM s)
          SELECT * FROM (
            SELECT l.id AS a, r.id AS b, ${dotSql("l.qv", "r.qv")} AS dotq,
                   l.nrm AS na, r.nrm AS nb
            FROM n l JOIN n r ON l.bkt = r.bkt AND l.id < r.id)
          WHERE dotq > 0 AND 10000 * dotq * dotq >= 1225 * na * nb"""
    },

    "q_ann_ivf" ->
      s"""WITH q AS (SELECT CAST(vec_id AS BIGINT) AS id, $qvSql AS qv FROM embeddings),
          c AS (SELECT id AS cell, qv AS cv FROM q WHERE id < 8),
          d AS (SELECT q.id, c.cell, ${dotSql("q.qv", "c.cv")} AS dotq FROM q, c),
          r AS (SELECT id, cell, dotq,
                       ROW_NUMBER() OVER (PARTITION BY id ORDER BY dotq DESC, cell ASC) AS rn
                FROM d)
          SELECT id, cell, dotq FROM r WHERE rn = 1""",

    "q_ann_ivf_search" ->
      s"""WITH s AS (SELECT CAST(vec_id AS BIGINT) AS id, $qvSql AS qv FROM embeddings),
          n AS (SELECT id, qv, ${dotSql("qv", "qv")} AS nrm FROM s),
          c AS (SELECT id AS cell, qv AS cv FROM n WHERE id < 8),
          corpus AS (
            SELECT cell, id AS nb, qv AS nv, nrm AS nn FROM (
              SELECT n.id, n.qv, n.nrm, c.cell,
                     ROW_NUMBER() OVER (PARTITION BY n.id
                       ORDER BY ${dotSql("n.qv", "c.cv")} DESC, c.cell ASC) AS rn
              FROM n, c) WHERE rn = 1),
          probes AS (
            SELECT q, qqv, nq, cell FROM (
              SELECT n.id AS q, n.qv AS qqv, n.nrm AS nq, c.cell,
                     ROW_NUMBER() OVER (PARTITION BY n.id
                       ORDER BY ${dotSql("n.qv", "c.cv")} DESC, c.cell ASC) AS rn
              FROM n, c WHERE n.id < 3) WHERE rn <= 3),
          cand AS (SELECT p.q, co.nb, ${dotSql("p.qqv", "co.nv")} AS dotq,
                          p.nq, co.nn
                   FROM corpus co JOIN probes p USING (cell)
                   WHERE p.q <> co.nb),
          keyed AS (SELECT q, nb,
                           CAST(CASE WHEN dotq >= 0
                                THEN (1000000 * dotq * dotq) // (nq * nn)
                                ELSE -((1000000 * dotq * dotq) // (nq * nn)) END
                                AS BIGINT) AS key
                    FROM cand)
          SELECT q, nb, key, rank FROM (
            SELECT q, nb, key,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q
                     ORDER BY key DESC, nb ASC) AS BIGINT) AS rank
            FROM keyed)
          WHERE rank <= 5""",

    "q_ann_lsh" -> {
      val bits = (0 until 8).map { j =>
        val plane = (0 until 64).map(i => PortablePlanes.component(j, i))
          .mkString("[", ", ", "]")
        s"CASE WHEN ${dotSql("qv", s"$plane::BIGINT[]")} > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"""SELECT CAST(vec_id AS BIGINT) AS id, CAST($bits AS BIGINT) AS bucket
          FROM (SELECT vec_id, $qvSql AS qv FROM embeddings)"""
    },

    "q_ann_pq" -> {
      val cs = (0 until PqM).map(j =>
        s"CAST(MAX(CASE WHEN j = $j THEN c END) AS BIGINT) AS c$j")
        .mkString(",\n                 ")
      s"""WITH $pqCodesCtes
          SELECT id, $cs FROM best WHERE rn = 1 GROUP BY id"""
    },

    "q_ann_pq_search" ->
      s"""WITH $pqCodesCtes,
          codes AS (SELECT id, j, c FROM best WHERE rn = 1),
          q AS (SELECT id AS qid, qv AS qqv FROM qv WHERE id < 3),
          lut AS (SELECT q.qid, jj.j, cb.c,
                    list_sum([q.qqv[jj.j * $PqD + i] * cb.cv[jj.j * $PqD + i]
                              for i in generate_series(1, $PqD)]) AS dot
                  FROM q, jj, cb),
          score AS (SELECT l.qid AS q, cd.id AS nb,
                      CAST(SUM(l.dot) AS BIGINT) AS approx
                    FROM codes cd JOIN lut l ON l.j = cd.j AND l.c = cd.c
                    WHERE l.qid <> cd.id GROUP BY 1, 2)
          SELECT q, nb, approx, rank FROM (
            SELECT q, nb, approx,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q
                     ORDER BY approx DESC, nb ASC) AS BIGINT) AS rank
            FROM score) WHERE rank <= 5""",

    "q_text_tokens" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS id,
                 CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(${tokensSql("text")}) END AS BIGINT) AS ntokens
          FROM documents""",

    "q_text_tokens_bpe" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS id,
                 ${TextAnalysis.bpeishTokenCountSql("text")} AS ntokens
          FROM documents""",

    "q_text_quality" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS id,
                 CAST(len(text) AS BIGINT) AS nchars,
                 CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(${tokensSql("text")}) END AS BIGINT) AS ntokens,
                 CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT) AS ndistinct,
                 CAST(len(text) - len(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS npunct,
                 CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS ndigits
          FROM documents""",

    "q_text_langid" -> {
      val hits = stopSqls.map { case (l, sql) => s"$sql AS hits_$l" }.mkString(", ")
      val langs = TextAnalysis.StopwordSets.map(_._1)
      val g = s"greatest(${langs.map(l => s"hits_$l").mkString(", ")})"
      val winners = langs.map(l => s"CASE WHEN hits_$l = $g THEN 1 ELSE 0 END").mkString(" + ")
      val firstWin = langs.map(l => s"WHEN hits_$l = $g THEN '$l'").mkString(" ")
      s"""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id,
                            ${tokensSql("lower(text)")} AS toks FROM documents),
          h AS (SELECT id, $hits FROM t)
          SELECT id, ${langs.map(l => s"hits_$l").mkString(", ")},
                 CASE WHEN $g = 0 THEN 'und'
                      WHEN ($winners) > 1 THEN 'und'
                      $firstWin ELSE 'und' END AS lang_pred
          FROM h"""
    },

    "q_text_fingerprint" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS id,
                 ${h64Sql(Portable.normalizedSql("text"))} AS fp
          FROM documents""",

    "q_text_pii" -> {
      // Same injected rows as the Spark cell (VALUES over PiiSnippets,
      // round-robin by row_number over the 42 lowest doc ids). DuckDB's
      // RE2 lacks the phone pattern's lookbehind; the snippets are
      // constructed so a lookbehind-free variant agrees on exactly these
      // strings (no digit/hyphen ever precedes a phone-shaped run).
      val snips = TextAnalysis.PiiSnippets
      val n = snips.length
      val values = snips.zipWithIndex
        .map { case (t, i) => s"($i, '$t')" }.mkString(", ")
      val oraclePatterns = TextAnalysis.PiiPatterns.map {
        case ("phone", _, tok) =>
          ("phone",
            "(\\+?\\d{1,2}[ .-])?(\\(\\d{3}\\)[ .]?|\\d{3}[ .-])\\d{3}[ .-]\\d{4}\\b",
            tok)
        case other => other
      }
      val redExpr = oraclePatterns.foldLeft("text") {
        case (acc, (_, re, tok)) => s"regexp_replace($acc, '$re', '$tok', 'g')"
      }
      val countCols = oraclePatterns.map { case (name, _, tok) =>
        s"CAST((len(redacted) - len(replace(redacted, '$tok', ''))) / ${tok.length} AS BIGINT) AS n_$name"
      }.mkString(",\n                 ")
      s"""WITH ids AS (
            SELECT CAST(doc_id AS BIGINT) AS id FROM documents
            ORDER BY 1 LIMIT 42),
          numbered AS (
            SELECT id, row_number() OVER (ORDER BY id) - 1 AS rn FROM ids),
          snips(i, txt) AS (VALUES $values),
          rows AS (SELECT id, txt AS text FROM numbered
                   JOIN snips ON numbered.rn % $n = snips.i),
          red AS (SELECT id, $redExpr AS redacted FROM rows)
          SELECT id, redacted,
                 $countCols
          FROM red"""
    },

    "q_topk_per_group" ->
      """SELECT lang, id, nchars, rank FROM (
           SELECT lang, CAST(doc_id AS BIGINT) AS id,
                  CAST(n_chars AS BIGINT) AS nchars,
                  CAST(ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rank
           FROM documents) WHERE rank <= 3""",

    "q_sample_stratified" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS id, lang FROM documents
          WHERE ${h64Sql("doc_id")} % 1000 <
                CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 100 ELSE 250 END""",

    "q_shard_shuffle" ->
      s"""SELECT id, h % 8 AS shard,
                 CAST(ROW_NUMBER() OVER (PARTITION BY h % 8
                   ORDER BY h ASC, id ASC) AS BIGINT) AS pos
          FROM (SELECT CAST(doc_id AS BIGINT) AS id,
                       ${h64Sql("'shard:' || CAST(doc_id AS VARCHAR)")} AS h
                FROM documents)""",

    "q_text_lm_score" ->
      s"""WITH toks AS (
            SELECT id, tok FROM (
              SELECT CAST(doc_id AS BIGINT) AS id,
                     unnest(${tokensSql("text")}) AS tok
              FROM documents) WHERE tok <> ''),
          vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
          tot AS (SELECT SUM(cnt) AS total FROM vocab),
          scored AS (
            SELECT id, (cnt * 1000000) // total AS ppm
            FROM toks JOIN vocab USING (tok), tot)
          SELECT id, CAST(COUNT(*) AS BIGINT) AS ntokens,
                 CAST(SUM(ppm) AS BIGINT) AS lm_ppm_sum,
                 CAST(MIN(ppm) AS BIGINT) AS lm_ppm_min
          FROM scored GROUP BY id""",

    "q_agg_hll" ->
      graft.pipeline.Sketches.hllRegistersSql("text", "documents"),

    "q_agg_cms" ->
      graft.pipeline.Sketches.cmRegistersSql("text", "documents"),

    "q_agg_rollup" ->
      s"""SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN len(trim(text)) = 0 THEN 0
                          ELSE len(${tokensSql("text")}) END) AS BIGINT) AS toks
          FROM documents GROUP BY ROLLUP (source, lang)""",

    "q_rolling" ->
      """SELECT CAST(event_id AS BIGINT) AS eid, CAST(user_id AS BIGINT) AS u,
                CAST(COUNT(*) OVER w AS BIGINT) AS rcount,
                CAST(SUM(cents) OVER w AS BIGINT) AS rsum,
                CAST(MIN(cents) OVER w AS BIGINT) AS rmin,
                CAST(MAX(cents) OVER w AS BIGINT) AS rmax
         FROM (SELECT event_id, user_id, ts,
                      CAST(round(value * 100) AS BIGINT) AS cents FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""",

    // Same epoch-µs integer arithmetic as the Spark side (tsMicros):
    // DuckDB's epoch_us over the naive parquet timestamp equals Spark's
    // unix_micros under the UTC session timezone.
    "q_rolling_time" ->
      """SELECT CAST(event_id AS BIGINT) AS eid, CAST(user_id AS BIGINT) AS u,
                CAST(COUNT(*) OVER w AS BIGINT) AS rcount,
                CAST(SUM(cents) OVER w AS BIGINT) AS rsum,
                CAST(MIN(cents) OVER w AS BIGINT) AS rmin,
                CAST(MAX(cents) OVER w AS BIGINT) AS rmax
         FROM (SELECT event_id, user_id, epoch_us(ts) AS tsus,
                      CAST(round(value * 100) AS BIGINT) AS cents FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY tsus ASC
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",

    "q_mix_budget" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id, source AS src,
                            CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                                 ELSE len(${tokensSql("text")}) END AS BIGINT) AS nt
                     FROM documents),
          c AS (SELECT id, src, nt,
                       CAST(SUM(nt) OVER (PARTITION BY src
                         ORDER BY nt DESC, id ASC
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumtokens
                FROM d)
          SELECT id, src, nt, cumtokens FROM c WHERE cumtokens <= 700""",

    "q_pack_sequences" ->
      s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS id, source AS src,
                            CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                                 ELSE len(${tokensSql("text")}) END AS BIGINT) AS nt
                     FROM documents)
          SELECT id, src, nt,
                 CAST((SUM(nt) OVER (PARTITION BY src ORDER BY id ASC
                         ROWS UNBOUNDED PRECEDING) - nt) // 256 AS BIGINT) AS bin
          FROM d""",

    "q_contamination" -> contaminationOracleSql,

    // The exact-first variant produces identical rows (overlap is a pure
    // function of the two texts), so the direct oracle applies verbatim.
    "q_contamination_exact_first" -> contaminationOracleSql,

    // list_distinct can't handle struct lists in DuckDB — compare windows
    // by their (s1, s2) pair rendered to one string (same identity).
    "q_text_repetition" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS id,
                 CAST(len(w) AS BIGINT) AS nshingles,
                 CAST(len(w) - len(list_distinct(list_transform(w,
                   x -> CAST(x.s1 AS VARCHAR) || ':' || CAST(x.s2 AS VARCHAR))))
                   AS BIGINT) AS nrepeated
          FROM (SELECT doc_id, ${shingleHashPairsSql("text", ShingleN)} AS w
                FROM documents)""",

    "q_embed_centroid" ->
      """SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
                CAST(SUM(CAST(round(embedding[i] * 100) AS BIGINT)) AS BIGINT) AS csum,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM (SELECT label, embedding,
                      unnest(generate_series(1, len(embedding))) AS i
               FROM embeddings)
         GROUP BY 1, 2""",

    "q_embed_project" -> {
      // Same ±1 matrix from the same portable-hash parity formula.
      def proj(j: Int): String = {
        val sign = s"CASE WHEN CAST('0x' || substring(md5('proj:$j:' || " +
          s"CAST(i - 1 AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
        s"CAST(list_sum([($sign) * qv[i] for i in generate_series(1, len(qv))]) AS BIGINT) AS p$j"
      }
      val ps = (0 until 8).map(proj).mkString(",\n               ")
      s"""SELECT CAST(vec_id AS BIGINT) AS id,
               $ps
          FROM (SELECT vec_id, $qvSql AS qv FROM embeddings)"""
    },

    // Deterministic as-of semantics spelled out as a window sweep (rather
    // than DuckDB's ASOF JOIN, whose tie-breaking is unspecified): per
    // user, the last view at or before each click, ties by event_id.
    "q_asof_join" ->
      """WITH u AS (
           SELECT user_id, ts, event_id, 1 AS side,
                  CAST(NULL AS BIGINT) AS view_id
           FROM events WHERE event_type = 'click'
           UNION ALL
           SELECT user_id, ts, event_id, 0 AS side, event_id AS view_id
           FROM events WHERE event_type = 'view'),
         swept AS (
           SELECT user_id, event_id, side,
                  LAST_VALUE(view_id IGNORE NULLS) OVER (
                    PARTITION BY user_id
                    ORDER BY ts ASC, side ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_id
           FROM u)
         SELECT CAST(event_id AS BIGINT) AS click_id,
                CAST(user_id AS BIGINT) AS u,
                CAST(view_id AS BIGINT) AS view_id
         FROM swept WHERE side = 1""",

    // Same epoch-µs integer gap arithmetic as the Spark side (tsMicros).
    "q_sessionize" ->
      """SELECT CAST(event_id AS BIGINT) AS eid, CAST(user_id AS BIGINT) AS u,
                CAST(SUM(CASE WHEN prev IS NULL
                          OR tsus - prev <= 1800000000 THEN 0
                          ELSE 1 END)
                     OVER (PARTITION BY user_id ORDER BY tsus, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session
         FROM (SELECT event_id, user_id, epoch_us(ts) AS tsus,
                      LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS prev
               FROM events)""",

    "q_lww_batch" ->
      """SELECT CAST(user_id AS BIGINT) AS u, last_type FROM (
           SELECT user_id, event_type AS last_type,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1""",

    // Every 2nd 64-byte chunk per document (ASCII text, so char == byte
    // positions); generate_series' step does the stride.
    "q_multimodal_frames" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
                CAST(idx AS INTEGER) AS frame_idx,
                hex(encode(substr(text, idx * 64 + 1, 64))) AS frame_hex
         FROM (SELECT doc_id, text,
                      unnest(generate_series(
                        0, CAST(ceil(len(text) / 64.0) AS INTEGER) - 1, 2)) AS idx
               FROM documents)""",

    // The REAL-header-decode oracle: expected fields recomputed from the
    // same doc columns the Spark side derives its synthesized containers
    // from — doc_id%3 selects PNG (29 header bytes, big-endian dims) /
    // BMP (26, little-endian) / WAV (44, duration = payload*1000/16000).
    // A decoder mis-parse (endianness, offset, RIFF walk) mismatches.
    "q_multimodal_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS id,
                CASE CAST(doc_id AS BIGINT) % 3
                  WHEN 2 THEN 'audio' ELSE 'image' END AS modality,
                CASE CAST(doc_id AS BIGINT) % 3
                  WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'wav' END AS format,
                CAST(CASE CAST(doc_id AS BIGINT) % 3
                       WHEN 0 THEN 29 WHEN 1 THEN 26 ELSE 44 END
                     + octet_length(encode(text)) AS BIGINT) AS byte_length,
                CAST(CASE WHEN CAST(doc_id AS BIGINT) % 3 = 2 THEN 0
                     ELSE CAST(n_chars AS BIGINT) % 1024 + 1 END AS INTEGER) AS width,
                CAST(CASE WHEN CAST(doc_id AS BIGINT) % 3 = 2 THEN 0
                     ELSE CAST(doc_id AS BIGINT) % 512 + 1 END AS INTEGER) AS height,
                CAST(CASE WHEN CAST(doc_id AS BIGINT) % 3 = 2
                     THEN octet_length(encode(text)) * 1000 // 16000
                     ELSE 0 END AS BIGINT) AS duration_ms
         FROM documents"""
  )
}
