package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.ops.GlobalRank
import graft.schema.Tables

/** Deduplication operators over `documents`: exact (hash group-by),
  * MinHash + banded LSH near-dup candidates, exact n-gram Jaccard
  * verification, and SimHash.
  *
  * 100 TB posture: every variant is bucketed — the only shuffles are
  * group-bys on content hash or (band, bucket) keys; there is NO all-pairs
  * comparison anywhere. Candidate verification touches only pairs that
  * collide in ≥1 LSH band, whose expected count is data-size-linear for a
  * fixed similarity threshold. Skewed buckets (boilerplate near-identical
  * docs) degrade gracefully: bucket size caps bound the per-bucket pair
  * blow-up and AQE handles residual skew in the band join.
  */
object Dedup {

  val NumHashes = 128
  val Bands = 32 // 32 bands × 4 rows: P(candidate | j=0.8) ≈ 1 − (1−0.8⁴)³² ≈ 1 − 5e-8
  val RowsPerBand: Int = NumHashes / Bands

  /** doc_id offset used to plant an exact-duplicate twin of every document
    * (corpus ∪ id-shifted corpus) inside the invariant-oracle queries —
    * the synthetic corpus may hold zero natural exact dups at small sf,
    * which would make containment invariants vacuously true. Larger than
    * any real doc_id at every test sf. */
  val PlantOffset = 10000000L

  /** Exact dedup via content hash: per-language doc/unique counts plus the
    * canonical keeper id (min doc_id per distinct text). */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(col("lang"), sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_unique"),
           sum(col("copies")).as("n_docs"),
           sum(col("copies") - 1).as("n_removed"))
      .orderBy(col("lang"))

  /** MinHash signatures (doc_id → 128-long signature; 4-long prefix
    * shown, JSON-serialized — the driver's pandas compare can't hash raw
    * array cells). The hash family is engine-internal (xxhash64 shingles +
    * SplitMix64 permutations), so there is no SQL oracle for the VALUES;
    * determinism and estimator accuracy are pinned in LlmSpec, and the
    * registered query [[minhashSignatureInvariants]] oracle-checks the
    * family's invariants instead. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    Tables.parallelized(Tables(spark, dir, "documents"))
      .select(col("doc_id"),
        GraftFunctions.minhash_signature(TextOps.shingleHashes(col("text")), NumHashes).as("sig"))
      .select(col("doc_id"), to_json(slice(col("sig"), 1, 4)).as("sig_prefix_json"))
      .orderBy(col("doc_id"))

  /** Signature invariant report, oracle-checked (replaces the r3 no-oracle
    * `dedup_minhash_signatures` registration). The corpus is doubled with
    * an id-offset copy of itself ([[PlantOffset]] — small sf may hold zero
    * natural exact dups, which would make the check vacuous), every doc is
    * signed through the real expression stack, and the report pins what IS
    * cross-engine-checkable about a hash family:
    *   - j=1 law: identical text ⇒ identical 128-long signature
    *     (`n_groups_consistent` must equal `n_text_groups`);
    *   - only sub-k-word docs are unsigned (`n_docs_signed`);
    *   - every signature has exactly [[NumHashes]] components.
    * A broken shingle split, permutation table, or min-fold fails one of
    * these; the signature VALUES stay spec-pinned in LlmSpec. */
  def minhashSignatureInvariants(spark: SparkSession, dir: String): DataFrame = {
    // one corpus scan: the id-shifted twin explodes from the same row
    // (r16 — the union form re-scanned documents per branch). The
    // signature expression sits ABOVE the Generate, so each twin row
    // still gets its own independent evaluation — exactly what the
    // union evaluated, and what the j=1 consistency law needs (a
    // sign-then-duplicate fold would make the twin check vacuous).
    val doubled = Tables.parallelized(Tables(spark, dir, "documents"))
      .select(explode(array(col("doc_id"), col("doc_id") + PlantOffset))
        .as("doc_id"), col("text"))
    val sigs = doubled
      .select(col("text"),
        GraftFunctions.minhash_signature(TextOps.shingleHashes(col("text")), NumHashes).as("sig"))
      .filter(col("sig").isNotNull)
    sigs.groupBy(sha2(col("text"), 256).as("h"))
      .agg(count(lit(1)).as("n"), countDistinct(col("sig")).as("n_sigs"),
           min(size(col("sig"))).as("len_min"), max(size(col("sig"))).as("len_max"))
      .agg(sum(col("n")).as("n_docs_signed"),
           count(lit(1)).as("n_text_groups"),
           sum(when(col("n_sigs") === 1, 1L).otherwise(0L)).as("n_groups_consistent"),
           min(col("len_min")).as("sig_len_min"),
           max(col("len_max")).as("sig_len_max"))
  }

  /** The doc_ids that appear in a (doc_a, doc_b) pair frame — the tiny
    * member set the verification payloads (signatures, shingles) are
    * recomputed for. At 100 TB the pair set is data-size-linear with a
    * small constant (LSH collisions at a fixed threshold), so the
    * members-only recompute is O(pairs), not O(corpus) — the r16
    * replacement for the corpus-wide signature/shingle checkpoints that
    * materialized ~1 KB/doc of payload nobody outside the pair joins
    * ever read. */
  private def pairMemberIds(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()

  /** Per-bucket population cap: a boilerplate bucket holding b documents
    * contributes b²/2 candidate pairs, so one 1M-doc near-identical
    * cluster at 100 TB would dominate the whole join. Buckets above the
    * cap are dropped BEFORE the self-join (keys-only window count, one
    * exchange of 20-byte rows). Recall note: a pair is lost only if EVERY
    * band that collides for it is over-crowded — for true near-dups
    * (which collide in many of the 32 bands) the surviving-band
    * probability stays ≈1, and the dropped mega-clusters are precisely
    * the ones exact-dedup/fingerprinting already catch. */
  val MaxBucket = 1000

  /** Banded-LSH candidate generation: explode 32 (band, bucket-hash) keys
    * per doc and self-join on the key — never all-pairs. Only the 20-byte
    * (doc_id, band, bucket) triple crosses the exchange; the ~1 KB
    * signature payload is projected out first and joined back to the
    * (small) pair set afterwards where needed.
    */
  private def candidatePairs(keys: DataFrame, maxBucket: Int = MaxBucket): DataFrame =
    // ONE key-keyed aggregation (was: a window count to cap + the keys
    // self-joined on (band, bucket) — two sorted passes over the same
    // partitioning): each bucket's member list aggregates through the
    // BOUNDED-heap topk_by at maxBucket+1 — a bucket past the cap
    // surfaces as a (maxBucket+1)-sized list and is dropped by the same
    // size() filter that the window count expressed, while an in-cap
    // bucket's list is provably complete; no task ever holds more than
    // cap+1 ids per bucket (collect_list would buffer a degenerate
    // boilerplate bucket unboundedly before the filter could run).
    // The (a < b) pairs unfold map-side from the ascending list — same
    // pair multiset, so the distinct()'d candidate set is unchanged. A
    // degenerate in-cap bucket materializes at most maxBucket²/2 pairs
    // (~8 MB) in the task that owns it — the same rows the join
    // streamed, without re-sorting the keys
    keys.groupBy(col("band"), col("bucket"))
      .agg(reverse(graft.functions.GraftFunctions.topk_by(
        col("doc_id"), col("doc_id"), maxBucket + 1)).as("ids"))
      .filter(size(col("ids")) <= maxBucket)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** (doc_id, band, bucket) LSH keys straight from (doc_id, text) rows —
    * shared by the batch incremental admission and the streaming dedup
    * index ([[graft.stream.StreamSync.maintainDedupIndex]], which appends
    * the admitted docs' keys to its `keys` snapshot table). */
  def lshKeysOf(docs: DataFrame): DataFrame =
    bandKeys(docs
      .select(col("doc_id"),
        GraftFunctions.minhash_signature(TextOps.shingleHashes(col("text")), NumHashes).as("sig"))
      .filter(col("sig").isNotNull))

  /** (doc_id, sh) distinct word-3-gram sets — the verification payload. */
  def shinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))

  /** (doc_id, band, bucket) LSH keys — the join-ready projection. */
  private def bandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      explode(transform(sequence(lit(0), lit(Bands - 1)),
        b => struct(b.as("band"),
                    xxhash64(b, slice(col("sig"), b * lit(RowsPerBand) + 1, lit(RowsPerBand))).as("bucket"))))
        .as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))

  /** Candidate pairs with estimated Jaccard (fraction of equal signature
    * components — the MinHash estimator). ONE corpus-scale signature pass
    * (straight into the band keys, never materialized); the pair members'
    * signatures are then recomputed over the left-semi-filtered corpus —
    * O(pairs) rows through the expensive expression instead of a
    * corpus-wide ~1 KB/doc checkpoint read back twice. */
  def minhashCandidates(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.parallelized(Tables(spark, dir, "documents"))
    val pairs = candidatePairs(lshKeysOf(docs))
      .localCheckpoint(true) // tiny; read by the member filter and the joins
    // raw table, not the parallelized frame: the round-robin exchange of
    // full text would run BEFORE the semi filter drops all but O(pairs)
    // rows — the member compute is tiny, the exchange pure waste
    val sigs = Tables(spark, dir, "documents")
      .join(pairMemberIds(pairs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        GraftFunctions.minhash_signature(TextOps.shingleHashes(col("text")), NumHashes).as("sig"))
      .localCheckpoint(true) // O(pairs) rows; both join sides read it
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(aggregate(
          zip_with(col("sig_a"), col("sig_b"), (a, b) => (a === b).cast("int")),
          lit(0), (acc, x) => acc + x).cast("double") / NumHashes, 4).as("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** LSH candidates with a containment + estimator oracle (replaces the
    * r3 no-oracle `dedup_minhash_candidates` registration): emit the
    * candidate pairs whose EXACT word-3-gram Jaccard clears `threshold`,
    * with the exact value and a MinHash-estimator bound check. The oracle
    * brute-forces the true pair set in DuckDB, so
    *   - recall: a true pair the LSH bands missed would make this query
    *     come back a row short — the driver's row compare IS the recall
    *     check (the band math makes misses ~5e-8-probable at j≥0.8);
    *   - estimator: |est − exact| ≤ 0.15 per pair (≈4σ for 128 hashes at
    *     j=0.8; deterministic for the fixed hash family + data).
    * The raw candidate set (with estimates below threshold) stays
    * available via [[minhashCandidates]] and is spec-pinned in LlmSpec. */
  def minhashCandidateRecall(spark: SparkSession, dir: String,
                             threshold: Double = 0.8): DataFrame = {
    // ONE corpus-scale pass (the signature expression inside the band
    // keys); signatures AND shingle sets are then recomputed for the pair
    // MEMBERS only (left-semi against the tiny pair-id set), replacing
    // two corpus-wide payload checkpoints (~1 KB sig + the full shingle
    // arrays per doc) with an O(pairs) one.
    val docs = Tables.parallelized(Tables(spark, dir, "documents"))
    val pairs = candidatePairs(lshKeysOf(docs))
      .localCheckpoint(true) // tiny; read by the member filter and the join
    val members = Tables(spark, dir, "documents") // raw: see minhashCandidates
      .join(pairMemberIds(pairs), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        GraftFunctions.minhash_signature(TextOps.shingleHashes(col("text")), NumHashes).as("sig"),
        TextOps.shingles(col("text")).as("sh"))
      .localCheckpoint(true) // O(pairs) rows; both join sides read it
    pairs
      .join(members.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
        col("sh").as("sh_a")), "doc_a")
      .join(members.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
        col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(aggregate(
          zip_with(col("sig_a"), col("sig_b"), (a, b) => (a === b).cast("int")),
          lit(0), (acc, x) => acc + x).cast("double") / NumHashes, 4).as("est_jaccard"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"),
        (abs(col("est_jaccard") - col("jaccard")) <= 0.15).as("est_ok"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** UNSORTED LSH-verified pairs — (doc_a, doc_b, jaccard round-6) without
    * the presentation orderBy: the aggregate consumers ([[resolveKeepers]],
    * [[graft.llm.Curation.crossSplitLeakage]]) don't need the sort, and
    * paying its range exchange inside an eager checkpoint was pure waste. */
  private[llm] def verifiedPairs(spark: SparkSession, dir: String,
                                 threshold: Double = 0.8): DataFrame = {
    // one corpus-scale pass (signatures → band keys); shingle sets are
    // recomputed for the pair MEMBERS only — the corpus-wide shingle
    // checkpoint (the heaviest payload in the family) is gone
    val docs = Tables.parallelized(Tables(spark, dir, "documents"))
    val cands = candidatePairs(lshKeysOf(docs))
      .localCheckpoint(true) // tiny; read by the member filter and the join
    val sh = Tables(spark, dir, "documents") // raw: see minhashCandidates
      .join(pairMemberIds(cands), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))
      .localCheckpoint(true) // O(pairs) rows; both join sides read it
    cands
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
          size(array_union(col("sa.sh"), col("sb.sh")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** LSH candidates verified with EXACT word-3-gram Jaccard ≥ threshold.
    * Output equals a (banned-at-scale) all-pairs scan whenever LSH recall
    * at the threshold is ~1, which the band shape guarantees — that makes
    * this query DuckDB-oracle-able against the brute-force definition. */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    verifiedPairs(spark, dir, threshold).orderBy(col("doc_a"), col("doc_b"))

  /** SimHash near-dup pairs: 64-bit signatures compared only within
    * colliding 16-bit chunks (4-chunk pigeonhole ⇒ any pair within
    * Hamming distance 3 shares ≥1 exact chunk), then exact bit_count
    * verification — again no all-pairs. */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    simhashPairsOf(
      Tables.parallelized(Tables(spark, dir, "documents"))
        .select(col("doc_id"), col("text")),
      maxHamming)

  /** The chunked SimHash pipeline over an arbitrary (doc_id, text) frame —
    * shared by the natural-corpus query and the planted-twin oracle. */
  private def simhashPairsOf(input: DataFrame, maxHamming: Int = 3): DataFrame = {
    val docs = input
      .select(col("doc_id"),
        GraftFunctions.simhash64(TextOps.shingleHashes(col("text"))).as("sim"))
      .filter(col("sim").isNotNull)
      .localCheckpoint(true) // both sides of the chunk self-join reuse the signatures
    val chunks = (0 until 4).map(i =>
      struct(lit(i).as("chunk"),
             shiftrightunsigned(col("sim"), i * 16).bitwiseAND(lit(0xFFFFL)).as("ck")))
    val chunked = docs.select(col("doc_id"), col("sim"),
        explode(array(chunks: _*)).as("cc"))
      .select(col("doc_id"), col("sim"), col("cc.chunk"), col("cc.ck"))
    val l = chunked.as("l")
    val r = chunked.as("r")
    l.join(r,
        col("l.chunk") === col("r.chunk") && col("l.ck") === col("r.ck") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        bit_count(col("l.sim").bitwiseXOR(col("r.sim"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash pipeline with a planted-twin containment oracle (replaces the
    * r3 no-oracle `dedup_simhash_pairs` registration): run the REAL
    * chunked pipeline over the corpus doubled with an id-offset copy of
    * itself, then keep only the planted (doc, doc+[[PlantOffset]]) twin
    * pairs. Identical text ⇒ identical shingle set ⇒ identical SimHash ⇒
    * Hamming 0 ⇒ the 16-bit-chunk pigeonhole MUST surface the pair — so
    * the oracle emits exactly one row per ≥k-word document, and a pipeline
    * that drops a chunk collision or mis-hashes anything comes back short
    * (row compare) or nonzero (hamming column). Natural pairs (which ARE
    * hash-family-specific) stay available via [[simhashPairs]], spec-pinned
    * in LlmSpec. */
  def simhashPlantedPairs(spark: SparkSession, dir: String): DataFrame = {
    // one corpus scan, twin rows exploded in place (see
    // minhashSignatureInvariants — same independent-evaluation argument:
    // simhash64 computes above the Generate, once per twin row)
    val doubled = Tables.parallelized(Tables(spark, dir, "documents"))
      .select(explode(array(col("doc_id"), col("doc_id") + PlantOffset))
        .as("doc_id"), col("text"))
    simhashPairsOf(doubled)
      .filter(col("doc_b") === col("doc_a") + PlantOffset)
      .select(col("doc_a").as("doc_id"), col("hamming").cast("int").as("hamming"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup resolution: collapse the LSH-verified pair graph into
    * connected components and pick each component's keeper (min doc_id) —
    * the step a production dedup pipeline actually ends with (drop
    * everything whose keeper isn't itself). One row per document that
    * sits in some verified pair: (doc_id, keeper, is_dup).
    *
    * Two shapes, one answer ([[keepersOf]] picks; RankSpec pins parity):
    *  - SMALL graph — the documents input is under the
    *    [[GlobalRank.distributedWorthIt]] size switch AND a bounded
    *    `limit(MaxLocalPairs + 1)` collect of the verified pairs fits:
    *    union-find on the driver, the keeper table returned as a local
    *    relation. The pairs' own jobs and that collect; no loop.
    *  - otherwise, min-label propagation WITH pointer jumping: each round
    *    every node takes the min over its neighbours' labels, then labels
    *    contract through their own labels (label := label(label)). The
    *    jump step doubles the propagation distance per round, so
    *    convergence is O(log diameter) rounds, not O(diameter) — a
    *    1M-doc boilerplate chain resolves in ~20 rounds instead of 1M.
    *    Per round: two keyed joins + one min-agg; the driver sees only a
    *    scalar convergence count. At scale the collect is never tried.
    */
  def resolveKeepers(spark: SparkSession, dir: String, threshold: Double = 0.8,
                     maxIters: Int = 25): DataFrame =
    resolveKeepersRaw(spark, dir, threshold, maxIters).orderBy(col("doc_id"))

  /** The most verified pairs a keeper election collects to the driver:
    * 100k (Long, Long) pairs are a few MB — a fixed bound, never a
    * buffer that grows with the corpus. */
  val MaxLocalPairs = 100000

  /** [[resolveKeepers]] without the presentation sort — the form
    * aggregate consumers ([[pipelineSummary]]) compose over, where the
    * orderBy's range exchange would be immediately discarded by the
    * downstream join. */
  private def resolveKeepersRaw(spark: SparkSession, dir: String,
                                threshold: Double = 0.8,
                                maxIters: Int = 25): DataFrame =
    // verifiedPairs, not ngramJaccard: the component fold is order-free,
    // so the presentation sort's range exchange would be paid for nothing
    keepersOf(verifiedPairs(spark, dir, threshold).select(col("doc_a"), col("doc_b")),
      Tables(spark, dir, "documents"), maxIters)

  /** The keeper table of a (doc_a, doc_b) long-id pair graph
    * ([[resolveKeepers]]' two shapes). `sizedBy` is the input the size
    * switch measures; `pairs` is by-name so the eager checkpoints its
    * construction makes are freed with the election's own. */
  private[graft] def keepersOf(pairs: => DataFrame, sizedBy: DataFrame,
                               maxIters: Int = 25,
                               maxLocalPairs: Int = MaxLocalPairs): DataFrame = {
    val spark = sizedBy.sparkSession
    // Checkpoint-block hygiene: localCheckpoint blocks live in the block
    // manager until the ContextCleaner GCs the RDD, so a 25-round loop
    // would otherwise pin ~50 stale frames of blocks for the whole query
    // (and leak past it — the r2 bench distortion). Track the RDD ids each
    // checkpoint creates (id-set diff; the session is single-threaded
    // here) and free a frame's blocks as soon as its last consumer has
    // materialized.
    val sc = spark.sparkContext
    def checkpointed(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = df.localCheckpoint(true) // eager: materialized on return
      (out, sc.getPersistentRDDs.keySet.toSet.diff(before))
    }
    def free(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    // Eager localCheckpoint, not persist, at every multi-consumer boundary:
    //  (1) `pairs` — the LSH+verify pipeline is consumed by both union
    //      branches below; materializing it once prevents the first loop
    //      job from re-deriving the signature/shingle lineage per branch
    //      (measured: cold fan-out re-evaluated the pipeline ~8× through
    //      the self-joins, 120 s vs 2 s for the single evaluation);
    //  (2) `edges`/`labels` — the loop re-plans its joins every round, and
    //      even a persisted frame drags the whole LSH lineage (dozens of
    //      cached subtrees) through Catalyst each time; a checkpointed
    //      frame re-plans in milliseconds.
    // The same calls scale out (executor-local blocks; switch to reliable
    // checkpoint() if executor loss must be survivable mid-job).
    val preIds = sc.getPersistentRDDs.keySet.toSet
    val graph = pairs
    if (!GlobalRank.distributedWorthIt(sizedBy, GlobalRank.inputBytes(sizedBy))) {
      val local = graph.limit(maxLocalPairs + 1).collect()
      if (local.length <= maxLocalPairs) {
        free(sc.getPersistentRDDs.keySet.toSet.diff(preIds))
        return electLocally(spark, local.map(r => (r.getLong(0), r.getLong(1))))
      }
    }
    val (cpPairs, _) = checkpointed(graph)
    val (edges, edgeIds) = checkpointed(cpPairs
      .union(cpPairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    // edges (materialized) is the only consumer of pairs AND of the LSH
    // pipeline's internal checkpoints (signature/shingle tables) — free
    // everything created since the snapshot except edges itself
    free(sc.getPersistentRDDs.keySet.toSet.diff(preIds).diff(edgeIds))
    // Initial labels = least(self, min neighbour) — round 1's hop folded
    // into the init aggregation: from identity labels the first round's
    // edges ⋈ labels join resolves every neighbour label to the
    // neighbour's own id, so the join was a no-op and one full loop round
    // (3 jobs) ran for nothing. Min-propagation is schedule-monotone, so
    // starting one hop in changes only the round count, never the
    // fixpoint (for the common all-size-2 component graph the loop now
    // converges in ONE round instead of two).
    var (labels, labelIds) = checkpointed(
      edges.groupBy(col("doc_a").as("doc_id"))
        .agg(least(col("doc_a"), min(col("doc_b"))).as("label")))
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("nbr_id"), col("label").as("nbr_label")),
          col("doc_b") === col("nbr_id"))
        .groupBy(col("doc_a").as("prop_id"))
        .agg(min(col("nbr_label")).as("nbr_min"))
      // One frame carries old + hop-min labels: the convergence probe and
      // the jump both read the materialized blocks (no second join pass).
      // (r16 note: fusing hop+jump into one checkpoint job was measured
      // SLOWER — the duplicated hop subtree recomputes both joins without
      // exchange reuse — so the two-step shape stays.)
      val (hopped, hopIds) = checkpointed(labels
        .join(nbrMin, col("doc_id") === col("prop_id"), "left")
        .select(col("doc_id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("hop_label")))
      val changed = hopped.filter(col("hop_label") =!= col("old_label"))
        .limit(1).count() // scalar convergence probe, not a data collect
      if (changed == 0) {
        // converged: every hop_label equals its old label, so the pointer
        // jump below would resolve each label through a fixed point —
        // identical mapping. Skip the final round's join + checkpoint.
        free(hopIds)
        converged = true
      } else {
        // Pointer jump: hop_label is always some node's id, so resolving
        // it through that node's own hop label halves the remaining depth
        // — O(log diameter) rounds overall instead of O(diameter).
        val (next, nextIds) = checkpointed(hopped.as("h")
          .join(hopped.select(col("doc_id").as("t_id"), col("hop_label").as("t_label")),
            col("h.hop_label") === col("t_id"))
          .select(col("h.doc_id").as("doc_id"), col("t_label").as("label")))
        free(labelIds); free(hopIds) // next (materialized) read both
        labels = next; labelIds = nextIds
      }
      iters += 1
    }
    free(edgeIds)
    labels.select(col("doc_id"), col("label").as("keeper"))
      .withColumn("is_dup", col("doc_id") =!= col("keeper"))
  }

  /** Union-find over driver-held pairs: every union hangs the larger root
    * under the smaller, so each component's root IS its min doc_id. */
  private def electLocally(spark: SparkSession, pairs: Seq[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x // path compression
      while (cur != root) { val next = parent(cur); parent(cur) = root; cur = next }
      root
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    import spark.implicits._
    parent.keys.toSeq.map(d => (d, find(d))).toDF("doc_id", "keeper")
      .withColumn("is_dup", col("doc_id") =!= col("keeper"))
  }

  /** Incremental near-dup admission — the shape continuous ingestion runs
    * at 100 TB: a NEW batch (deterministic slice `doc_id % 10 >= 8`, ~20%)
    * is deduped against the EXISTING corpus (the other ~80%) plus the
    * earlier part of its own batch, without ever comparing
    * corpus × corpus. The batch's band keys fold with the corpus's
    * band-key table (in production the corpus keys are materialized once
    * per snapshot; recomputed here because the fixture has no snapshot
    * store); candidates are verified with exact word-3-gram
    * Jaccard, and each new doc is admitted iff no earlier-in-ingest-order
    * match clears `threshold`. Match policy when several docs match: the
    * earliest in ingest order (all corpus docs precede the batch; doc_id
    * order within each), so re-running a batch is idempotent.
    *
    * Cost per batch: O(|batch| · bands) key rows probed against the
    * corpus key table + exact verification on colliding pairs only —
    * never O(|corpus|²), the corpus text/signatures are never reshuffled
    * (keys-only join; AQE broadcasts the batch key side when small), and
    * the same [[MaxBucket]] cap bounds degenerate boilerplate buckets.
    *
    * Oracle note: like [[ngramJaccard]], the brute-force oracle does not
    * model the bucket cap (xxhash bucket ids are engine-internal);
    * equality holds because a pair is lost only if EVERY band that
    * collides for it is >1000-crowded — for true j≥0.8 near-dups (which
    * collide in many of the 32 bands) the surviving-band probability is
    * ≈1, and no testdata bucket approaches the cap. */
  /** The bounded incremental-admission candidate fold — shared by the
    * batch admission ([[incremental]]) and the streaming dedup index
    * ([[graft.stream.StreamSync.maintainDedupIndex]], whose old keys are
    * its `keys` table as of the snapshot before the batch). From
    * (doc_id, band, bucket, is_new) LSH keys to the DISTINCT
    * (doc_id, o_id, o_new) probe set: doc_id is NEW and o is
    * earlier-in-ingest (any old doc, or a new doc with smaller id).
    *
    * ONE bucket-keyed aggregation through the bounded-heap topk_by at
    * maxBucket+1 (the candidatePairs fold, carrying is_new): an over-cap
    * bucket surfaces as a cap+1-sized list and drops where a window
    * count would have dropped it — without any task ever buffering a
    * degenerate boilerplate bucket unboundedly (which the window count,
    * like collect_list, would); an in-cap bucket's member list is
    * complete. The asymmetric probe condition unfolds map-side from the
    * ascending (x before y ⇒ x.doc_id < y.doc_id) list — for each
    * ordered pair (x, y): when y is new, x matches it (x old ⇒ existing
    * match; x new ⇒ earlier-in-ingest, since x.doc_id < y.doc_id); when
    * x is new and y is OLD, y is an existing match for x. Same
    * (new, old) multiset as the window-capped (band, bucket) self-join
    * with `!o.is_new || o.doc_id < n.doc_id`, so the distinct candidate
    * set is unchanged; the window + self-join exchanges are gone. */
  private[graft] def incrementalCandidates(keys: DataFrame,
                                           maxBucket: Int = MaxBucket): DataFrame =
    keys
      .groupBy(col("band"), col("bucket"))
      .agg(reverse(graft.functions.GraftFunctions.topk_by(col("doc_id"),
        struct(col("doc_id"), col("is_new")), maxBucket + 1)).as("ms"))
      .filter(size(col("ms")) <= maxBucket)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))),
          y => struct(x.as("x"), y.as("y")))))).as("p"))
      .select(explode(filter(array(
        struct(col("p.y.doc_id").as("doc_id"), col("p.x.doc_id").as("o_id"),
          col("p.x.is_new").as("o_new"), col("p.y.is_new").as("ok")),
        struct(col("p.x.doc_id").as("doc_id"), col("p.y.doc_id").as("o_id"),
          col("p.y.is_new").as("o_new"),
          (col("p.x.is_new") && !col("p.y.is_new")).as("ok"))),
        s => s.getField("ok"))).as("c"))
      .select(col("c.doc_id").as("doc_id"), col("c.o_id").as("o_id"),
        col("c.o_new").as("o_new"))
      .distinct()

  def incremental(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.parallelized(Tables(spark, dir, "documents"))
    val isNew = col("doc_id") % 10 >= 8
    val cands = incrementalCandidates(lshKeysOf(docs).withColumn("is_new", isNew))
      .localCheckpoint(true) // tiny; read by the member filter and the join
    // shingle sets recomputed for candidate MEMBERS only (left-semi on
    // the tiny candidate-id set) — O(candidates), not a corpus checkpoint
    val sh = Tables(spark, dir, "documents") // raw: see minhashCandidates
      .join(
        cands.select(col("doc_id")).union(cands.select(col("o_id"))).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))
      .localCheckpoint(true)
    val verified = cands
      .join(sh.select(col("doc_id"), col("sh").as("sh_n")), "doc_id")
      .join(sh.select(col("doc_id").as("o_id"), col("sh").as("sh_o")), "o_id")
      .select(col("doc_id"), col("o_id"), col("o_new"),
        (size(array_intersect(col("sh_n"), col("sh_o"))).cast("double") /
          size(array_union(col("sh_n"), col("sh_o")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val pick = verified
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("o_new"), col("o_id"))))
      .filter(col("rk") === 1)
    docs.filter(isNew).select(col("doc_id"))
      .join(pick.select(col("doc_id"), col("o_id"), col("jaccard")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("o_id").isNotNull.as("is_dup"),
        col("o_id").as("dup_of"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Directed CONTAINMENT detection: doc A is (near-)contained in doc B
    * when |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ `threshold` — the
    * sub-document duplication class (quotes, embedded boilerplate,
    * excerpt reposts) that symmetric Jaccard MISSES: a small doc inside a
    * large one has low Jaccard but containment ≈ 1, so MinHash-LSH bands
    * never surface the pair. The right index is the shingle
    * inverted-index join: explode (shingle, doc_id) postings, drop
    * shingles with df > `maxDf` (the boilerplate guard — same rationale
    * as [[MaxBucket]]; a shingle shared by thousands of docs carries no
    * containment signal and would fan out df² pairs), self-join on the
    * surviving shingles, count shared shingles per pair, emit both
    * directions that clear the threshold. The df cap is part of the
    * SEMANTICS (deterministically replayed by the oracle), so engine and
    * oracle agree exactly — no recall argument needed. Shuffles carry
    * (shingle-hash, doc_id) postings and (pair, count) partials only. */
  def containment(spark: SparkSession, dir: String, threshold: Double = 0.9,
                  maxDf: Int = 50): DataFrame = {
    // ONE gram-keyed aggregation replaces the r6 df-count + semi-join +
    // self-join chain (3 exchanges + a join of the postings against
    // themselves → 1 exchange): each gram's posting list aggregates
    // through the BOUNDED-heap topk_by at maxDf+1 — an over-cap gram
    // surfaces as a (maxDf+1)-sized list and is dropped by the size()
    // filter; an in-cap gram's list is provably complete, and no task
    // ever buffers a boilerplate gram's unbounded postings (which
    // collect_list would). The in-bucket (a < b) pairs unfold from the
    // ASCENDING list map-side; pair arrays are bounded by maxDf²/2
    // (≤ 1 225 here), so the interpreted HOF runs on tiny arrays far
    // off the per-row hot path. Same pair multiset as the join (ids
    // are distinct per gram), so n_shared is unchanged — the oracle
    // replays the identical cap.
    def sharedOf(postings: DataFrame): DataFrame = postings.groupBy(col("g"))
      .agg(reverse(graft.functions.GraftFunctions.topk_by(
        col("doc_id"), col("doc_id"), maxDf + 1)).as("ids"))
      .filter(size(col("ids")) <= maxDf)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    // Size-adaptive source shape (the funnel/cumsum switch pattern):
    // BELOW one scan split, checkpointing the corpus-wide (doc_id,
    // shingle-array) table once and serving postings + both |shingles|
    // lookups from it is cheapest (measured at sf0.1: the members-only
    // restructure's extra pair-set/member jobs cost more than the ~MB
    // checkpoint saves — the r16 A/B/A: 1.36 s vs 1.78-2.57 s). AT SCALE
    // that checkpoint materializes ~5× the corpus text for two consumers
    // that only ever read O(pairs) rows of it — there the members-only
    // discipline of the LSH family (guide §8: shuffle keys and metadata,
    // recompute payloads for the tiny member set) takes over: postings
    // stream straight off the scan (never materialized), the pair set
    // checkpoints tiny, and |shingles| recomputes for pair members only.
    // Both paths run the identical sharedOf aggregation and the member
    // sizes are the same size(shingles(text)) expression over the same
    // rows, so the directed report is provably unchanged (two-path
    // equality pinned in RankSpec; the distributed path oracle-verified).
    val raw = Tables(spark, dir, "documents")
    val (shared, sizes) =
      if (!GlobalRank.distributedWorthIt(raw, GlobalRank.inputBytes(raw))) {
        val sh = Tables.parallelized(raw)
          .select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))
          .filter(size(col("sh")) > 0)
          .localCheckpoint(true) // feeds postings AND both |shingles| lookups
        (sharedOf(sh.select(col("doc_id"), explode(col("sh")).as("g"))),
          sh.select(col("doc_id"), size(col("sh")).as("nsh")))
      } else {
        val pairs = sharedOf(
          Tables.parallelized(raw)
            .select(col("doc_id"), explode(TextOps.shingles(col("text"))).as("g")))
          .localCheckpoint(true) // tiny; read by the member filter and the joins
        val memberSizes = raw // raw scan: see minhashCandidates
          .join(pairMemberIds(pairs.select(col("doc_a"), col("doc_b"))),
            Seq("doc_id"), "left_semi")
          .select(col("doc_id"), size(TextOps.shingles(col("text"))).as("nsh"))
          .localCheckpoint(true) // O(pairs) rows; both join sides read it
        (pairs, memberSizes)
      }
    val directed = shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("nsh").as("nsh_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nsh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        (col("n_shared").cast("double") / col("nsh_a")).as("c_ab"),
        (col("n_shared").cast("double") / col("nsh_b")).as("c_ba"))
    // both directions in ONE pass: a union of two filters would re-derive
    // the whole inverted-index pipeline per branch (measured: the plan
    // duplicated every exchange); exploding the two directed candidate
    // rows per pair keeps a single lineage
    directed
      .select(explode(array(
          struct(col("doc_a").as("inner_doc"), col("doc_b").as("outer_doc"),
            col("c_ab").as("c")),
          struct(col("doc_b").as("inner_doc"), col("doc_a").as("outer_doc"),
            col("c_ba").as("c")))).as("d"))
      .select(col("d.inner_doc").as("inner_doc"), col("d.outer_doc").as("outer_doc"),
        col("d.c").as("c"))
      .filter(col("c") >= threshold)
      .select(col("inner_doc"), col("outer_doc"), round(col("c"), 6).as("containment"))
      .orderBy(col("inner_doc"), col("outer_doc"))
  }

  /** Embedding-cosine near-dup: cluster-bucketed pairs (same IVF cell ⇒
    * candidate), exact codegen'd cosine verification, top-20 most similar.
    * The all-pairs O(n²) scan never happens — candidates come from the
    * broadcast-assigned cluster key, one shuffle. */
  def embeddingNearDup(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    // parallelized: the local single-split file would serialize the
    // CPU-heavy same-cell pair join onto one core. NOT persisted: the
    // assignment is a narrow scan+argmax over 16 inlined centroids, so
    // recomputing it per join side costs one cheap projection and leaves
    // no cached blocks behind for the caller to clean up.
    val assigned = Tables.parallelized(Similarity.assignClusters(spark, dir)
      .select(col("vec_id"), col("embedding"), col("centroid_id")))
    val l = assigned.as("l")
    val r = assigned.as("r")
    l.join(r, col("l.centroid_id") === col("r.centroid_id") &&
        col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"),
        GraftFunctions.vec_cosine(col("l.embedding"), col("r.embedding")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
      .limit(k)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    * arXiv:2303.09540 recipe): cluster the embedding space, then within
    * each cluster drop every vector that sits above a cosine threshold
    * from ANY lower-id vector in its cluster — near-duplicate *meanings*,
    * not near-duplicate bytes, which none of the lexical dedup family
    * (MinHash/SimHash/fingerprint) can see. Emitted as the per-cluster
    * removal report a curation run ships.
    *
    * 100 TB posture: reuses [[Similarity.assignClusters]]' map-side
    * assignment (centroids are a broadcast model — the corpus is never
    * shuffled to be clustered), so the only exchanges are the same-cell
    * pair join and the ~|clusters|-row final aggregate. The quadratic
    * cosine check is confined to same-cell pairs — exactly the bound the
    * paper's k-means partitioning exists to provide; cell population caps
    * (the [[MaxBucket]] rationale) would bolt on unchanged for degenerate
    * clusterings. Keep-lowest-id is the deterministic stand-in for the
    * paper's keep-one-random policy. */
  def semantic(spark: SparkSession, dir: String, tau: Double = 0.3): DataFrame = {
    // Not persisted (r3 ADVICE): map-side assignment is cheaper to
    // recompute per consumer than a cached copy is to manage — the three
    // reads below each re-run one scan+argmax projection and the builder
    // leaves zero cached state behind.
    val assigned = Tables.parallelized(Similarity.assignClusters(spark, dir)
      .select(col("vec_id"), col("embedding"), col("centroid_id")))
    val l = assigned.as("l")
    val r = assigned.as("r")
    // a vector is dropped iff SOME lower-id vector in its cell is ≥ tau
    // close — one distinct projection of the thresholded pair set
    val dropped = l.join(r, col("l.centroid_id") === col("r.centroid_id") &&
        col("l.vec_id") < col("r.vec_id"))
      .filter(GraftFunctions.vec_cosine(col("l.embedding"), col("r.embedding")) >= tau)
      .select(col("r.vec_id").as("vec_id")).distinct()
      .withColumn("is_dropped", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vectors"),
           sum(coalesce(col("is_dropped"), lit(false)).cast("long")).as("n_dropped"))
      .select(col("centroid_id"), col("n_vectors"), col("n_dropped"),
        (col("n_vectors") - col("n_dropped")).as("n_kept"))
      .orderBy(col("centroid_id"))
  }

  /** Blocked fuzzy match: edit-distance near-dup detection over SHORT
    * normalized prefixes, candidates bounded by a blocking key (first two
    * tokens) — the string-similarity twin of the LSH pipeline. Blocking
    * keeps the quadratic levenshtein off all-pairs: only same-block pairs
    * are compared, and the per-block window cap (same rationale as
    * [[MaxBucket]]) bounds a degenerate block's b²/2 blow-up. Distance
    * runs on the 40-char normalized prefix, so each comparison is O(40²)
    * regardless of document length. */
  def fuzzyPrefix(spark: SparkSession, dir: String, maxDist: Int = 10,
                  maxBlock: Int = 200): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        substring(norm, 1, 40).as("prefix"),
        concat_ws(" ", slice(split(norm, " "), 1, 2)).as("block"))
    // same bounded bucket fold as [[candidatePairs]]/[[containment]]:
    // one block-keyed aggregation through the bounded-heap topk_by at
    // maxBlock+1 (over-cap blocks surface as cap+1-sized lists and drop
    // exactly where the window count dropped them; in-cap lists are
    // complete, and no task buffers a degenerate block unboundedly),
    // then the (a < b) pairs + their prefix edit distances unfold
    // map-side from the ascending member list — the window + self-join
    // exchanges are gone, the levenshtein count per block is unchanged
    val pairs = docs.groupBy(col("block"))
      .agg(reverse(GraftFunctions.topk_by(col("doc_id"),
        struct(col("doc_id"), col("prefix")), maxBlock + 1)).as("ms"))
      .filter(size(col("ms")) <= maxBlock)
      .select(explode(flatten(transform(col("ms"), (x, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))), y =>
          struct(x.getField("doc_id").as("doc_a"),
            y.getField("doc_id").as("doc_b"),
            levenshtein(x.getField("prefix"), y.getField("prefix"))
              .as("edit_dist")))))).as("p"))
    pairs
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.edit_dist").as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Corpus-wide boilerplate-span detection — the line/paragraph-dedup
    * analogue (CCNet-style) for unstructured single-line text: count each
    * distinct word-5-gram's document frequency across the corpus, mark
    * grams appearing in ≥ minDf documents as boilerplate, and report each
    * document's boilerplate coverage (which downstream filtering/cleaning
    * would act on).
    *
    * 100 TB posture: the only corpus-wide exchange carries (gram) keys
    * after map-side combine — never document payloads. The boilerplate set
    * (the high-df tail) joins BACK without a forced broadcast hint: its
    * size is data-dependent (KBs on a clean corpus, potentially GBs on a
    * boilerplate-heavy crawl), so the join is left to AQE's runtime size
    * check — it broadcasts the left-semi when the set is small (it is
    * here; the plan shows BroadcastHashJoin LeftSemi) and degrades to a
    * shuffle join instead of an executor OOM when it isn't. The per-doc
    * count's exchange is ~1 row per (partition, doc) thanks to partial
    * aggregation (a document's grams are co-located at the source). Grams
    * are distinct per doc ([[graft.functions.Shingles]] dedupes), so
    * document frequency is a plain count. boiler_ppm is floor(1e6·frac) —
    * floor of an identically computed double, not round, so no
    * cross-engine half-way ties. */
  def spanCoverage(spark: SparkSession, dir: String, k: Int = 5, minDf: Int = 2): DataFrame = {
    val docs = Tables.parallelized(Tables(spark, dir, "documents"))
      .select(col("doc_id"), TextOps.shingles(col("text"), k).as("grams"))
      .localCheckpoint(true) // read by the df-count branch and the per-doc stats branch
    val grams = docs.select(col("doc_id"), explode(col("grams")).as("gram"))
    val boiler = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("gram"))
    val perDoc = grams.join(boiler, Seq("gram"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
    docs.select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        when(col("n_grams") > 0,
          floor(coalesce(col("n_boiler"), lit(0L)).cast("double") /
            col("n_grams") * lit(1e6)).cast("long")).as("boiler_ppm"))
      .orderBy(col("doc_id"))
  }

  /** The dedup pipeline's end cap as one query: LSH candidates → exact
    * verification → connected components → keeper election, folded to the
    * per-language removal report a curation run ships. Documents outside
    * the pair graph are implicit keepers (left join, null ⇒ not dup).
    * Adds one keeper join and a ~|langs|-row aggregate on top of
    * [[resolveKeepers]]'s cost. The keeper table is |dup-graph|-sized —
    * tiny on a clean corpus, corpus-scale on a dup-heavy one — so the
    * join deliberately carries NO broadcast hint: AQE broadcasts it when
    * its runtime size allows and falls back to a doc_id hash join when
    * not. removal_ppm uses floor, not round — no cross-engine half-way
    * ties. */
  def pipelineSummary(spark: SparkSession, dir: String): DataFrame = {
    // raw (unsorted) keepers: the join + per-lang aggregate below are
    // order-free, so resolveKeepers' presentation sort would be discarded
    val keepers = resolveKeepersRaw(spark, dir)
      .select(col("doc_id"), col("is_dup"))
    Tables(spark, dir, "documents")
      .join(keepers, Seq("doc_id"), "left")
      .select(col("lang"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("is_dup").cast("long")).as("n_removed"))
      .select(col("lang"), col("n_docs"), col("n_removed"),
        (col("n_docs") - col("n_removed")).as("n_kept"),
        floor(col("n_removed").cast("double") / col("n_docs") * lit(1e6))
          .cast("long").as("removal_ppm"))
      .orderBy(col("lang"))
  }

  /** LSH banding PLANNER (the S-curve arithmetic every MinHash-LSH
    * deployment runs before touching data; Leskovec–Rajaraman–Ullman,
    * public): for an n-hash signature, enumerate every (bands b, rows r)
    * factorization, estimate its collision threshold (1/b)^(1/r), emit
    * the full collision-probability curve 1−(1−s^r)^b at reference
    * similarities, and flag the banding closest to the target threshold
    * (ties → fewer bands = cheaper). Pure closed-form double arithmetic
    * over ~divisors(n) rows — the whole plan replays exactly in SQL, so
    * the oracle pins every probability the engine would deploy with. */
  def lshPlan(spark: SparkSession, nHashes: Int = 128,
              target: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = spark.range(1, nHashes + 1).toDF("b")
      .filter(lit(nHashes) % col("b") === 0)
      .withColumn("r", (lit(nHashes) / col("b")).cast("long"))
      .withColumn("est_threshold",
        round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")), 6))
    def pAt(s: Double) =
      round(lit(1.0) - pow(lit(1.0) - pow(lit(s), col("r")), col("b")), 6)
    val dist = abs(col("est_threshold") - lit(target))
    grid
      .withColumn("p_at_060", pAt(0.6))
      .withColumn("p_at_080", pAt(0.8))
      .withColumn("p_at_095", pAt(0.95))
      .withColumn("is_chosen",
        row_number().over(Window.orderBy(dist, col("b"))) === 1)
      .orderBy(col("b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_lsh_plan" -> ((s, _) => lshPlan(s)),
    "dedup_pipeline_summary" -> pipelineSummary,
    "dedup_span_coverage" -> ((s, d) => spanCoverage(s, d)),
    "dedup_semantic" -> ((s, d) => semantic(s, d)),
    "dedup_fuzzy_prefix" -> ((s, d) => fuzzyPrefix(s, d)),
    "dedup_exact" -> exact,
    "dedup_minhash_signatures" -> minhashSignatureInvariants,
    "dedup_minhash_candidates" -> ((s, d) => minhashCandidateRecall(s, d)),
    "dedup_ngram_jaccard" -> ((s, d) => ngramJaccard(s, d)),
    "dedup_simhash_pairs" -> simhashPlantedPairs,
    "dedup_embedding_neardup" -> ((s, d) => embeddingNearDup(s, d)),
    "dedup_resolve_keepers" -> ((s, d) => resolveKeepers(s, d)),
    "dedup_incremental" -> ((s, d) => incremental(s, d)),
    "dedup_containment" -> ((s, d) => containment(s, d))
  )

  val oracles: Map[String, String] = Map(
    // the S-curve planner is closed-form arithmetic: every probability
    // and the chosen banding replay exactly (power/round-6 parity)
    "dedup_lsh_plan" ->
      """WITH g AS (SELECT b, 128 // b AS r
        |  FROM generate_series(1, 128) t(b) WHERE 128 % b = 0),
        |e AS (SELECT b, r,
        |    round(power(1.0 / b, 1.0 / r), 6) AS est_threshold FROM g),
        |d AS (SELECT *, abs(est_threshold - 0.8) AS dist,
        |    row_number() OVER (ORDER BY abs(est_threshold - 0.8), b) AS rk
        |  FROM e)
        |SELECT b, r, est_threshold,
        |  round(1 - power(1 - power(0.60, r), b), 6) AS p_at_060,
        |  round(1 - power(1 - power(0.80, r), b), 6) AS p_at_080,
        |  round(1 - power(1 - power(0.95, r), b), 6) AS p_at_095,
        |  rk = 1 AS is_chosen
        |FROM d ORDER BY b""".stripMargin,
    // exact replay of the inverted-index containment: same df cap (part
    // of the semantics), same shared-shingle counts, both directions
    "dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS s
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |post AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |rare AS (SELECT g FROM (SELECT g, count(*) AS df FROM post GROUP BY g)
        |         WHERE df <= 50),
        |capped AS (SELECT doc_id, g FROM post JOIN rare USING (g)),
        |shared AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |  FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |sz AS (SELECT doc_id, len(s) AS nsh FROM sh),
        |d AS (SELECT s.doc_a, s.doc_b, s.n_shared,
        |        CAST(s.n_shared AS DOUBLE) / za.nsh AS c_ab,
        |        CAST(s.n_shared AS DOUBLE) / zb.nsh AS c_ba
        |      FROM shared s
        |      JOIN sz za ON s.doc_a = za.doc_id
        |      JOIN sz zb ON s.doc_b = zb.doc_id)
        |SELECT doc_a AS inner_doc, doc_b AS outer_doc,
        |  round(c_ab, 6) AS containment
        |FROM d WHERE c_ab >= 0.9
        |UNION ALL
        |SELECT doc_b AS inner_doc, doc_a AS outer_doc,
        |  round(c_ba, 6) AS containment
        |FROM d WHERE c_ba >= 0.9
        |ORDER BY inner_doc, outer_doc""".stripMargin,
    // brute-force replay of the incremental admission: every new-batch doc
    // against all earlier-in-ingest-order docs; the engine's LSH probe must
    // reproduce it exactly (band recall ≈1 at j≥0.8, same argument as
    // dedup_ngram_jaccard)
    "dedup_incremental" ->
      """WITH sh AS (
        |  SELECT doc_id, doc_id % 10 >= 8 AS is_new,
        |    list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS s
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |m AS (
        |  SELECT n.doc_id, o.doc_id AS o_id, o.is_new AS o_new,
        |    CAST(len(list_intersect(n.s, o.s)) AS DOUBLE) /
        |    len(list_distinct(list_concat(n.s, o.s))) AS j
        |  FROM sh n JOIN sh o
        |    ON n.is_new AND (NOT o.is_new OR o.doc_id < n.doc_id)
        |  WHERE CAST(len(list_intersect(n.s, o.s)) AS DOUBLE) /
        |        len(list_distinct(list_concat(n.s, o.s))) >= 0.8),
        |pick AS (SELECT doc_id, o_id, j,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY o_new, o_id) AS rk
        |  FROM m)
        |SELECT d.doc_id, p.o_id IS NOT NULL AS is_dup, p.o_id AS dup_of,
        |  round(p.j, 6) AS jaccard
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
        |LEFT JOIN (SELECT * FROM pick WHERE rk = 1) p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // hash-family invariants over the twin-doubled corpus: identical text
    // ⇒ identical signature; all signatures 128-long; only <3-word docs
    // unsigned (none exist in the testdata — the WHERE mirrors the gate)
    "dedup_minhash_signatures" ->
      """WITH d AS (SELECT text FROM documents UNION ALL SELECT text FROM documents),
        |g AS (SELECT text, count(*) AS n FROM d
        |      WHERE len(string_split(text, ' ')) >= 3 GROUP BY text)
        |SELECT CAST(sum(n) AS BIGINT) AS n_docs_signed,
        |  count(*) AS n_text_groups,
        |  count(*) AS n_groups_consistent,
        |  CAST(128 AS INTEGER) AS sig_len_min,
        |  CAST(128 AS INTEGER) AS sig_len_max
        |FROM g""".stripMargin,
    // brute-force true near-dup pairs: candidate recall == 1 shows up as a
    // row-count match, and the estimator bound column must be all-true
    "dedup_minhash_candidates" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS s
        |  FROM documents WHERE len(string_split(text,' ')) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard,
        |  TRUE AS est_ok
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // planted-twin containment: one row per >=3-word doc, hamming must be 0
    "dedup_simhash_pairs" ->
      """SELECT doc_id, CAST(0 AS INTEGER) AS hamming
        |FROM documents WHERE len(string_split(text, ' ')) >= 3
        |ORDER BY doc_id""".stripMargin,
    // the keeper-resolution recursive CTE, folded to per-language counts
    "dedup_pipeline_summary" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS s
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach(s, t) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN e ON r.t = e.a),
        |k AS (SELECT s AS doc_id, (s <> min(t)) AS is_dup FROM reach GROUP BY s),
        |j AS (SELECT d.lang, coalesce(k.is_dup, false) AS is_dup
        |      FROM documents d LEFT JOIN k ON d.doc_id = k.doc_id)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(count(*) - sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(floor(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1.0 / count(*) * 1e6) AS BIGINT) AS removal_ppm
        |FROM j GROUP BY lang ORDER BY lang""".stripMargin,
    // distinct word-5-grams per doc; df over the distinct sets; coverage
    // replayed exactly (floor(1e6·frac) on identically computed doubles)
    "dedup_span_coverage" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g0 AS (SELECT doc_id,
        |         list_distinct(list_transform(generate_series(1, len(ws) - 4),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
        |                ws[i+3] || ' ' || ws[i+4])) AS grams
        |       FROM w),
        |g AS (SELECT doc_id, unnest(grams) AS gram FROM g0),
        |b AS (SELECT gram FROM (SELECT gram, count(*) AS df FROM g GROUP BY gram)
        |      WHERE df >= 2),
        |pb AS (SELECT doc_id, count(*) AS n_boiler FROM g JOIN b USING (gram)
        |       GROUP BY doc_id)
        |SELECT g0.doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(coalesce(pb.n_boiler, 0) AS BIGINT) AS n_boiler,
        |  CASE WHEN len(grams) > 0
        |       THEN CAST(floor(CAST(coalesce(pb.n_boiler, 0) AS DOUBLE) /
        |                       len(grams) * 1e6) AS BIGINT) END AS boiler_ppm
        |FROM g0 LEFT JOIN pb USING (doc_id) ORDER BY g0.doc_id""".stripMargin,
    // deterministic IVF assignment + same-cell thresholded pairs + the
    // keep-lowest-id policy, all replayed exactly in DuckDB
    "dedup_semantic" ->
      """WITH c AS (SELECT CAST(vec_id AS INTEGER) AS centroid_id,
        |             CAST(embedding AS DOUBLE[]) AS c_emb
        |           FROM embeddings WHERE vec_id < 16),
        |s AS (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.centroid_id,
        |        row_number() OVER (PARTITION BY e.vec_id
        |          ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c_emb) DESC,
        |                   c.centroid_id) AS rk
        |      FROM embeddings e CROSS JOIN c),
        |a AS (SELECT vec_id, v, centroid_id FROM s WHERE rk = 1),
        |d AS (SELECT DISTINCT r.vec_id
        |      FROM a l JOIN a r ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id
        |      WHERE list_cosine_similarity(l.v, r.v) >= 0.3)
        |SELECT a.centroid_id, count(*) AS n_vectors,
        |  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(count(*) - sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM a LEFT JOIN d ON a.vec_id = d.vec_id
        |GROUP BY a.centroid_id ORDER BY a.centroid_id""".stripMargin,
    // same blocking + cap + distance, replayed in SQL (DuckDB levenshtein
    // agrees with Spark's on ASCII)
    "dedup_fuzzy_prefix" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |         ' +', ' ', 'g')) AS norm
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, substring(norm, 1, 40) AS prefix,
        |    array_to_string((string_split(norm, ' '))[1:2], ' ') AS block
        |  FROM n),
        |capped AS (
        |  SELECT * FROM (SELECT d.*, count(*) OVER (PARTITION BY block) AS bn FROM d)
        |  WHERE bn <= 200)
        |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b,
        |  CAST(levenshtein(l.prefix, r.prefix) AS INTEGER) AS edit_dist
        |FROM capped l JOIN capped r
        |  ON l.block = r.block AND l.doc_id < r.doc_id
        |WHERE levenshtein(l.prefix, r.prefix) <= 10
        |ORDER BY doc_a, doc_b""".stripMargin,
    // oracle-able since the IVF assignment became deterministic (first-16
    // centroids, lowest-id tie-break): DuckDB reproduces cell assignment,
    // same-cell candidate pairs, and the exact-cosine top-20
    "dedup_embedding_neardup" ->
      """WITH c AS (SELECT CAST(vec_id AS INTEGER) AS centroid_id,
        |             CAST(embedding AS DOUBLE[]) AS c_emb
        |           FROM embeddings WHERE vec_id < 16),
        |s AS (SELECT e.vec_id, e.embedding, c.centroid_id,
        |        row_number() OVER (PARTITION BY e.vec_id
        |          ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c_emb) DESC,
        |                   c.centroid_id) AS rk
        |      FROM embeddings e CROSS JOIN c),
        |a AS (SELECT vec_id, embedding, centroid_id FROM s WHERE rk = 1),
        |p AS (SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
        |        list_cosine_similarity(CAST(l.embedding AS DOUBLE[]), CAST(r.embedding AS DOUBLE[])) AS c
        |      FROM a l JOIN a r ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id)
        |SELECT vec_a, vec_b, round(c, 6) AS cosine
        |FROM p ORDER BY c DESC, vec_a, vec_b LIMIT 20""".stripMargin,
    "dedup_exact" ->
      """WITH per_text AS (
        |  SELECT lang, sha256(text) AS h, min(doc_id) AS keeper, count(*) AS copies
        |  FROM documents GROUP BY lang, sha256(text))
        |SELECT lang, count(*) AS n_unique, CAST(sum(copies) AS BIGINT) AS n_docs,
        |  CAST(sum(copies - 1) AS BIGINT) AS n_removed
        |FROM per_text GROUP BY lang ORDER BY lang""".stripMargin,
    // brute-force all-pairs definition of the LSH-accelerated engine query;
    // equal because band recall at j≥0.8 is 1 − (1−0.8⁴)³² ≈ 1
    "dedup_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS s
        |  FROM documents WHERE len(string_split(text,' ')) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // keeper resolution == min doc_id over each connected component of the
    // brute-force pair graph; DuckDB computes the transitive closure with a
    // recursive CTE (fine at oracle scale; the engine's label propagation
    // is the distributed form of the same fixpoint)
    "dedup_resolve_keepers" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS s
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach(s, t) AS (
        |  SELECT a, a FROM e
        |  UNION
        |  SELECT r.s, e.b FROM reach r JOIN e ON r.t = e.a)
        |SELECT s AS doc_id, min(t) AS keeper, (s <> min(t)) AS is_dup
        |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin
  )
}
