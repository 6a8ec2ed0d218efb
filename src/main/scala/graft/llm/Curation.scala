package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.schema.Tables

/** Corpus-curation operators a training-data pipeline runs between raw
  * ingestion and tokenization: deterministic train/val/test splitting,
  * PII/markup scrubbing, repetition (Gopher-style) quality signals,
  * eval-set decontamination, and source-mixture planning.
  *
  * Scale posture (100 TB): splitting / scrubbing / repetition are map-side
  * per-document work (repetition adds one keyed agg); decontamination joins
  * the corpus against a BROADCAST eval-shingle set (the eval set is tiny by
  * construction — benchmarks are MBs, corpora are TBs), so the corpus is
  * never shuffled; the mixture plan reduces to one row per source.
  */
object Curation {

  /** The content-addressed split label as a pure EXPRESSION of the doc id —
    * the single definition [[splitAssign]] projects and [[crossSplitLeakage]]
    * computes inline on its pair members (a doc's label is a function of its
    * id alone, so joining the corpus-wide assignment table back onto an
    * O(pairs) frame was two scans + two joins for nothing — guide §2.4). */
  private def splitOf(id: Column): Column = {
    val bucket = substring(md5(id.cast("string")), 1, 1)
    when(bucket < "c", "train")
      .when(bucket.isin("c", "d"), "val")
      .otherwise("test")
  }

  /** Deterministic, content-addressed train/val/test assignment: bucket by
    * the first hex nibble of md5(doc_id) → 12/2/2 of 16 buckets. Stable
    * under re-runs, re-partitioning, and corpus growth (a doc never changes
    * split), unlike `randomSplit`. Pure projection — zero shuffle. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("bucket"),
        splitOf(col("doc_id")).as("split"))
      .orderBy(col("doc_id"))

  /** Cross-split near-duplicate LEAKAGE report — the contamination class
    * [[decontaminate]] cannot see: if two near-duplicate corpus documents
    * land in different splits, the held-out metric silently evaluates on
    * (a copy of) training data. Pairs come from the LSH → exact-jaccard
    * pipeline ([[Dedup.ngramJaccard]], never all-pairs); each pair joins
    * its members' [[splitAssign]] labels and only cross-split pairs
    * survive, reported per (split_a, split_b) with the leaking pair count
    * and both ids of the worst (highest-jaccard, lowest-id) example — the
    * go/no-go number a training run checks before trusting eval. Split
    * labels are content-addressed md5 buckets, so the whole report is
    * DuckDB-replayable. */
  def crossSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    // unsorted pair set: the per-(split_a, split_b) aggregate below is
    // order-free, so ngramJaccard's presentation sort would be discarded.
    // Split labels compute INLINE from the pair members' ids ([[splitOf]]
    // is a pure function of doc_id): the former corpus-wide splitAssign
    // joins matched every member exactly once (doc_id is unique and pair
    // members ⊆ corpus), so two documents scans + two joins drop out of
    // the plan with the output provably unchanged (§2.4).
    Dedup.verifiedPairs(spark, dir)
      .withColumn("split_a", splitOf(col("doc_a")))
      .withColumn("split_b", splitOf(col("doc_b")))
      .filter(col("split_a") =!= col("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_leaking_pairs"),
        max(struct(col("jaccard"), (-col("doc_a")).as("na"), (-col("doc_b")).as("nb")))
          .as("worst"))
      .select(col("split_a"), col("split_b"), col("n_leaking_pairs"),
        (-col("worst.na")).cast("long").as("worst_doc_a"),
        (-col("worst.nb")).cast("long").as("worst_doc_b"),
        col("worst.jaccard").as("worst_jaccard"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** PII / markup scrub: redact emails, URLs, and long digit runs with
    * typed placeholders and collapse whitespace; emit per-doc redaction
    * counts and the md5 of the cleaned text (compact, verifiable).
    * All regexes are RE2-compatible (portable to the DuckDB oracle). */
  def scrub(spark: SparkSession, dir: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^ ]+"
    val digits = "[0-9]{4,}"
    val cleaned = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(col("text"), email, "<EMAIL>"),
          url, "<URL>"),
        digits, "<NUM>"),
      " +", " ")
    Tables(spark, dir, "documents")
      .select(col("doc_id"),
        regexp_count(col("text"), lit(email)).as("n_emails"),
        regexp_count(col("text"), lit(url)).as("n_urls"),
        regexp_count(col("text"), lit(digits)).as("n_num_runs"),
        md5(cleaned).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** Repetition quality signals (Gopher-style): fraction of tokens taken
    * by the single most frequent word / bigram, and the duplicate-word
    * fraction. Two keyed aggregations on doc_id (unigram + bigram passes)
    * joined back — the doc_id key is unique per doc so both aggregations
    * and the join hash-partition evenly at any corpus size. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_words"),
           max(col("c")).as("top_word_count"),
           count(lit(1)).as("n_unique"))
    // Shingles(k=2) is the distinct bigram set, so occurrence counting
    // re-derives bigrams positionally from the word sequence instead.
    val bigrams = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("i", "w")))
      .withColumn("nxt", lead(col("w"), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id")).orderBy(col("i"))))
      .filter(col("nxt").isNotNull)
      .groupBy(col("doc_id"), col("w"), col("nxt")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_count"))
    words.join(bigrams, "doc_id")
      .select(col("doc_id"), col("n_words"),
        round(col("top_word_count").cast("double") / col("n_words"), 4)
          .as("top_word_fraction"),
        round(lit(1.0) - col("n_unique").cast("double") / col("n_words"), 4)
          .as("dup_word_fraction"),
        round(col("top_bigram_count").cast("double") / col("n_bigrams"), 4)
          .as("top_bigram_fraction"))
      .orderBy(col("doc_id"))
  }

  /** Eval-set decontamination: flag corpus documents whose distinct
    * 3-shingle overlap with any held-out eval document reaches
    * [[ContaminationThreshold]]. The eval set here is carved from the
    * corpus by doc_id (mod 97) to stay self-contained; in production it is
    * the benchmark suite. The eval shingle set is broadcast — the corpus
    * side is map-only explode + local semi-join, then one agg by doc_id. */
  val ContaminationThreshold = 5

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val isEval = col("doc_id") % 97 === 0
    val shingled = docs.select(col("doc_id"),
      explode(GraftFunctions.shingles(col("text"), 3)).as("sh"))
    val evalShingles = shingled.filter(isEval).select(col("sh")).distinct()
    val overlap = shingled.filter(!isEval)
      .join(broadcast(evalShingles), "sh")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    docs.filter(!isEval).select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= ContaminationThreshold)
          .as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** Source-mixture plan: per-source doc/token counts, the actual corpus
    * share, and the deterministic sample rate that moves the mixture toward
    * a uniform target share (capped at 1.0 — we never upsample here).
    * One partial+final agg to ~|sources| rows, then a window over that tiny
    * aggregate — driver-safe at any corpus size. */
  def mixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(size(split(col("text"), " "))).as("total_tokens"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val total = sum(col("n_docs")).over(w)
    val nSources = count(lit(1)).over(w)
    val share = col("n_docs").cast("double") / total
    val target = lit(1.0) / nSources
    perSource
      .select(col("source"), col("n_docs"), col("total_tokens"),
        round(share, 6).as("actual_share"),
        round(least(target / share, lit(1.0)), 6).as("sample_rate"),
        round(col("n_docs") * least(target / share, lit(1.0)), 2).as("expected_docs"))
      .orderBy(col("source"))
  }

  /** Apply the mixture plan: deterministic per-document downsampling at
    * each source's planned rate. The uniform draw is content-addressed
    * (first 4 md5 nibbles of the doc id, salted → u = k/65536, an EXACT
    * binary fraction), so the decision is reproducible under re-runs and
    * repartitioning with zero RNG state; the ~|sources| rate table rides
    * along as a broadcast — the corpus is never shuffled. */
  def mixtureApply(spark: SparkSession, dir: String): DataFrame = {
    val rates = mixturePlan(spark, dir).select(col("source"), col("sample_rate"))
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"), lit(":mix"))), 1, 4),
      16, 10).cast("double") / 65536.0)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), round(u, 10).as("u"))
      .join(broadcast(rates), "source")
      .withColumn("kept", col("u") < col("sample_rate"))
      .select(col("doc_id"), col("source"), col("u"), col("sample_rate"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget sharding: chunk each source's corpus into ~`budget`-token
    * shards by running token count — the layout step before tokenization
    * writes fixed-size training shards. One window per source (running sum
    * over a deterministic doc order), shard id = cumulative tokens div
    * budget; at scale the window partitions by source and streams, no
    * second pass. */
  def tokenShards(spark: SparkSession, dir: String, budget: Long = 20000L): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val counted = docs.select(col("source"), col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    // per-source running sum WITHOUT one source's whole corpus slice
    // through one window task: above one scan-split of input the
    // two-level cumulative sum range-partitions on (source, doc_id) and
    // adds broadcast per-partition offsets (GlobalRank.groupedCumSum,
    // identical totals — CumSumSpec pins two-path equality); below it the
    // per-source window is cheaper than the distributed sum's extra jobs
    // (the zorderLayout size switch)
    val cum =
      if (graft.ops.GlobalRank.distributedWorthIt(docs,
          graft.ops.GlobalRank.inputBytes(docs)))
        graft.ops.GlobalRank.groupedCumSum(counted, "source",
            Seq(col("doc_id")), col("n_tokens"),
            spark.sparkContext.defaultParallelism)
          .withColumn("cum_tokens", col("_cum") + col("n_tokens")).drop("_cum")
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                       org.apache.spark.sql.expressions.Window.currentRow)
        counted.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      }
    cum
      .withColumn("shard", expr(s"CAST((cum_tokens - 1) DIV $budget AS INT)"))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("cum_tokens"), col("shard"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Stratified sampling: exactly `k` docs per stratum (source), chosen by
    * content-addressed hash order — md5(doc_id:sample) ranks each stratum
    * deterministically, so the sample is reproducible, uniform-ish within
    * the stratum, and stable under corpus repartitioning. One window per
    * stratum over (source, doc_id, hash) triples only — the documents'
    * text never shuffles. The fixed-k-per-stratum shape (vs mixtureApply's
    * fixed-RATE) is what eval-set construction and per-source inspection
    * samples use. */
  /** RELATIVE quality gate: keep documents at or above their own
    * source's 25th-percentile uniqueness ratio — the "keep the best X%
    * per domain" curation form, which adapts to each source's baseline
    * instead of a global constant (a forum and an encyclopedia have
    * different healthy repetition levels). One keyed agg builds the
    * |sources|-row cutoff table, broadcast back onto a map-side
    * comparison — the corpus text never shuffles. Cutoffs are emitted
    * floor-scaled to ppm (engine-independent; interpolated percentiles
    * are exactly replayed by DuckDB percentile_cont, proven by
    * fn_percentile, but their 7th decimal can be a rounding half-point).
    */
  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val scored = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        round(size(array_distinct(words)).cast("double") / size(words), 6)
          .as("unique_ratio"))
    val cuts = scored.groupBy(col("source"))
      .agg(expr("percentile(unique_ratio, 0.25)").as("cut"))
    scored.join(broadcast(cuts), "source")
      .select(col("source"), col("doc_id"), col("unique_ratio"),
        floor(col("cut") * lit(1e6)).cast("long").as("cut_ppm"),
        (col("unique_ratio") >= col("cut")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Sequence-packing manifest: assign every [[chunkDocuments]] chunk a
    * (training-sequence id, offset) by streaming the per-source token
    * count — the layout step that turns a curated corpus into the
    * fixed-length sequences a trainer consumes. The running sum streams
    * per source partition exactly like [[tokenShards]]; no global
    * ordering is ever materialized, so at 100 TB each source packs
    * independently (append new sources, never re-pack old ones).
    */
  def packSequences(spark: SparkSession, dir: String, seqLen: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents")
    val chunks = chunkDocuments(spark, dir)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    // per-source exclusive running sum without the one-task-per-source
    // window — the same two-level switch as [[tokenShards]] (the
    // GlobalRank.groupedCumSum `_cum` IS the exclusive prefix)
    val cum =
      if (graft.ops.GlobalRank.distributedWorthIt(docs,
          graft.ops.GlobalRank.inputBytes(docs)))
        graft.ops.GlobalRank.groupedCumSum(chunks, "source",
            Seq(col("doc_id"), col("chunk_idx")), col("n_tokens"),
            spark.sparkContext.defaultParallelism)
          .withColumn("cum_before", col("_cum")).drop("_cum")
      else {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("doc_id"), col("chunk_idx"))
          .rowsBetween(Window.unboundedPreceding, -1)
        chunks.withColumn("cum_before",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      }
    cum
      .select(col("source"), col("doc_id"), col("chunk_idx"), col("n_tokens"),
        expr(s"cum_before div $seqLen").as("seq_id"),
        (col("cum_before") % seqLen).cast("int").as("seq_offset"))
      .orderBy(col("source"), col("doc_id"), col("chunk_idx"))
  }

  /** Bloom-filter decontamination — [[decontaminate]]'s 100 TB form. The
    * exact path broadcasts the eval set's DISTINCT SHINGLE STRINGS, which
    * grows with the benchmark suite (GBs once the eval pool is itself
    * corpus-sized); this path ships a CONSTANT ~128 KB
    * [[graft.functions.BloomBuildAgg]] bitset over the shingle hashes
    * instead, and probes it map-side (codegen'd, no join at all on the
    * corpus side). The bitset binds as a SCALAR SUBQUERY, evaluated once
    * per query the way Spark binds its own runtime bloom-filter join; a
    * broadcast cross join would attach it to every shingle row, and the
    * probe's generated code copies a joined binary column (128 KB) per
    * row. Bloom probes have NO false negatives, so every
    * exactly-contaminated document is still flagged — the safety property
    * decontamination actually needs; false positives only ever
    * over-flag, and reaching the ≥5-shingle threshold by accident is
    * (1/2^20-ish)^5-rare.
    *
    * Invariant-oracle form: the flagged doc set is hash-dependent (no
    * cross-engine oracle), but the contract is checkable — emit the
    * exact contaminated count (DuckDB-replayed) plus in-query proofs
    * that (a) exact-contaminated ⊆ bloom-flagged and (b) the bloom
    * over-flag is bounded (≤ exact + 1% of docs).
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.{bloom_build, bloom_might_contain}
    val isEval = col("doc_id") % 97 === 0
    val hashed = Tables(spark, dir, "documents").select(col("doc_id"),
      explode(GraftFunctions.shingle_hashes(col("text"), 3)).as("h"))
    val bloom = hashed.filter(isEval)
      .agg(bloom_build(col("h"), 1 << 20, 5).as("bf"))
    val bloomFlagged = hashed.filter(!isEval)
      .filter(bloom_might_contain(bloom.scalar(), col("h"), 5))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= ContaminationThreshold)
      .select(col("doc_id"), lit(true).as("bloom_flag"))
    decontaminate(spark, dir)
      .join(bloomFlagged, Seq("doc_id"), "left_outer")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("contaminated").cast("long")).as("n_contaminated"),
        // every exactly-contaminated doc must carry the bloom flag
        coalesce(min(when(col("contaminated"), coalesce(col("bloom_flag"), lit(false)))),
          lit(true)).as("no_false_negatives"),
        (sum(coalesce(col("bloom_flag"), lit(false)).cast("long"))
          <= sum(col("contaminated").cast("long")) + count(lit(1)) / lit(100))
          .as("overflag_bounded"))
  }

  /** Global deterministic uniform sample: bottom-k by content hash. Each
    * doc's md5 over a seeded key is a uniform draw, so the k smallest
    * hashes are a uniform k-sample — with properties RNG-based sampling
    * (`TABLESAMPLE`, rand()) lacks at 100 TB: the SAME docs come back on
    * every run, any partitioning, any engine; a k→2k rerun EXTENDS the
    * sample (prefix property — bottom-k of the same hash order); and
    * samples of two corpora MERGE into a sample of their union (bottom-k
    * of the concatenated bags), the classic bottom-k sketch (Cohen &
    * Kaplan, PODC 2007, public). Plans as TakeOrderedAndProject: each
    * partition keeps its own k smallest, a single reducer merges k·P
    * rows — the corpus is never globally sorted or shuffled.
    */
  def sampleBottomK(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(col("doc_id").cast("string"), lit(":bottomk"))).as("h"))
      .orderBy(col("h"), col("doc_id"))
      .limit(k)

  def sampleStratified(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val h = md5(concat(col("doc_id").cast("string"), lit(":sample")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), h.as("h"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk"), col("doc_id"), col("h"))
      .orderBy(col("source"), col("rk"))
  }

  /** The composed curation pipeline as one query: quality-filter →
    * exact-dedup (keep the min-doc_id copy) → deterministic split
    * assignment → per-(split, lang) corpus summary. Each stage is the
    * registered operator's exact semantics, so the composition is
    * DuckDB-oracle-able end-to-end — the summary row counts prove the
    * stages compose without row leakage. Plan shape: map-side filter,
    * one hash partition by content hash (dedup window), map-side split,
    * one final agg — the corpus text crosses one exchange, total. */
  def pipelineSummary(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = split(col("text"), " ")
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        size(words).as("n_words"),
        round(size(array_distinct(words)).cast("double") / size(words), 4).as("ur"))
    val kept = docs.filter(col("n_words") >= 20 && col("n_words") <= 5000 &&
      col("ur") >= 0.35)
    val unique = kept
      .withColumn("keeper",
        min(col("doc_id")).over(Window.partitionBy(sha2(col("text"), 256))))
      .filter(col("doc_id") === col("keeper"))
    val bucket = substring(md5(col("doc_id").cast("string")), 1, 1)
    unique
      .withColumn("split",
        when(bucket < "c", "train").when(bucket.isin("c", "d"), "val")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_words")).cast("long").as("total_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  /** Fixed-size chunking with overlap — the tokenize-ready layout step: a
    * window of `chunkTokens` whitespace tokens starts every `stride`
    * tokens (stride < chunk ⇒ overlapping context, the usual LM-training
    * layout). Pure map-side Generate (sequence + posexplode), so chunking
    * parallelizes with the scan and multiplies rows only AFTER any
    * document-level filtering; each chunk carries its md5 so downstream
    * chunk-level dedup/addressing needs no re-read of the text. */
  def chunkDocuments(spark: SparkSession, dir: String,
                     chunkTokens: Int = 64, stride: Int = 48): DataFrame = {
    val ws = split(col("text"), " ")
    Tables(spark, dir, "documents")
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), size(col("ws")).as("n_tokens_doc"),
        posexplode(transform(
          sequence(lit(1), greatest(size(col("ws")), lit(1)), lit(stride)),
          s => struct(
            s.as("start_token"),
            least(lit(chunkTokens), size(col("ws")) - s + 1).as("n_tokens"),
            md5(concat_ws(" ", slice(col("ws"), s, lit(chunkTokens)))).as("chunk_md5"))))
          .as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx"),
        col("c.start_token").as("start_token"),
        col("c.n_tokens").as("n_tokens"), col("c.chunk_md5").as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Z-order (Morton-curve) data layout vs ingest-time layout, measured by
    * FILE SKIPPING — the write-side optimization that decides whether a
    * 100 TB scan with a two-dimensional predicate reads 100 TB or 2 TB.
    * Events are laid out two ways into `nFiles` equal files: ingest order
    * (sorted by ts — what a stream sink naturally writes) and Z-order
    * (sorted by the bit-interleave of the user and time-minute dims, each
    * normalized to 8 bits).
    * Each file keeps its min/max per dimension (what parquet footers /
    * lakehouse manifests store); a file is scanned iff its [min,max]
    * range intersects the predicate. The report counts files scanned
    * under a user-range predicate, a time-range predicate, and their
    * conjunction, per layout: ingest order skips on time but must scan
    * everything for user ranges; Z-order skips on BOTH.
    *
    * ntile-over-global-sort stands in for `repartitionByRange` (the
    * distributed form — range boundaries from a sample, no global window)
    * so file boundaries are deterministic and the whole computation
    * replays exactly in the oracle. The Z-value itself is one codegen'd
    * map-side fold; at scale the only cost over a plain sort-write is
    * that projection. */
  def zorderLayout(spark: SparkSession, dir: String, nFiles: Int = 64,
                   uLo: Int = 10, uHi: Int = 19): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"))
    val evBytes = graft.ops.GlobalRank.inputBytes(ev)
    val bounds = ev.agg(min(col("tus")).as("t0"), max(col("tus")).as("t1"),
      min(col("user_id")).as("u0"), max(col("user_id")).as("u1"))
    // Min-max-normalize each dimension to the same 8-bit width before
    // interleaving: raw dims of unequal range (150 users vs ~40k minutes)
    // would let the wide dim's high bits dominate the curve, collapsing it
    // back to a one-dimensional sort with no skipping on the narrow dim.
    val dimmed = ev.crossJoin(broadcast(bounds))
      .withColumn("ym", expr("(tus - t0) div 60000000"))
      .withColumn("ym_max", expr("(t1 - t0) div 60000000"))
      .withColumn("x8", expr("((user_id - u0) * 256) div (u1 - u0 + 1)"))
      .withColumn("y8", expr("(ym * 256) div (ym_max + 1)"))
      // native codegen'd interleave — the HOF fold form evaluates
      // interpreted per row, wrong for a whole-corpus rewrite projection
      .withColumn("zv", GraftFunctions.zvalue(col("x8"), col("y8"), 8))
      // both layout branches consume this frame; materialize once or the
      // union re-derives the scan + bounds agg + z projection per branch
      .localCheckpoint(true)
    def layoutStats(name: String, ord: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val uHit = col("u_max") >= uLo && col("u_min") <= uHi
      val tHit = col("t_max") >= expr("ym_max div 4") &&
        col("t_min") <= expr("ym_max div 4 + 1439")
      // ntile over a GLOBAL order without the single-partition WindowExec
      // (the whole-corpus sort on one task that WindowExec warns about):
      // above one scan-split of input, GlobalRank.ntileRanked
      // range-partitions on the same total order and reproduces NTile's
      // bucket arithmetic — identical file_id per row (RankSpec pins the
      // equality), parallel at any scale; below it the one-task window
      // sort is cheaper than the distributed rank's extra jobs
      // (GlobalRank.distributedWorthIt — the AQE-style size switch)
      val fileId =
        if (graft.ops.GlobalRank.distributedWorthIt(dimmed, evBytes))
          graft.ops.GlobalRank.ntileRanked(dimmed, ord, nFiles,
            spark.sparkContext.defaultParallelism)
        else dimmed.withColumn("file_id",
          ntile(nFiles).over(Window.orderBy(ord: _*)))
      fileId
        .groupBy(col("file_id"))
        .agg(min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
             min(col("ym")).as("t_min"), max(col("ym")).as("t_max"),
             max(col("ym_max")).as("ym_max"))
        .agg(count(lit(1)).as("n_files"),
             sum(uHit.cast("long")).as("scan_user"),
             sum(tHit.cast("long")).as("scan_time"),
             sum((uHit && tHit).cast("long")).as("scan_both"))
        .select(lit(name).as("layout"), col("n_files"), col("scan_user"),
                col("scan_time"), col("scan_both"))
    }
    layoutStats("ingest", Seq(col("tus"), col("event_id")))
      .unionByName(layoutStats("zorder", Seq(col("zv"), col("event_id"))))
      .orderBy(col("layout"))
  }

  /** Deterministic WEIGHTED sample (Efraimidis–Spirakis A-ES): keep the k
    * docs with the greatest ln(u)/w, where u is a content-addressed
    * uniform draw (md5 nibbles → exact binary fraction in (0,1]) and
    * w = n_chars — longer documents proportionally likelier, the
    * length-weighted draw a mixture builder uses. Same scale posture as
    * [[sampleBottomK]]: zero RNG state, reproducible under any
    * partitioning, plans as TakeOrderedAndProject (each partition keeps
    * its k best keys, one k·P driver merge — no global sort, no corpus
    * shuffle), and samples of two corpora merge into a sample of their
    * union by re-taking the top k keys. */
  def sampleWeighted(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    // 13 md5 nibbles = 52 uniform bits; (v+1)/2^52 is an exact binary
    // fraction, so u is bit-identical in any engine replaying the md5
    val v = conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("long")
    val u = (v + lit(1L)).cast("double") / lit(4503599627370496.0) // 2^52
    val key = log(u) / col("n_chars")
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"), round(key, 6).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(k)
  }

  /** Temperature-scaled mixture weights (the multilingual/multi-source
    * rebalancing recipe: p_i ∝ share_i^α with α < 1 flattens the
    * distribution toward small sources without inverting it). Emits per
    * source the natural share, the α=0.7 temperature share, and the
    * resulting boost factor — the plan a sampler like [[mixtureApply]]
    * consumes. ~|sources| rows end-to-end after one keyed count; the
    * normalizing window runs over those rows, not the corpus. */
  def mixtureTemperature(spark: SparkSession, dir: String,
                         alpha: Double = 0.7): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val share = col("n_docs").cast("double") / sum(col("n_docs")).over(w)
    Tables(spark, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("share", share)
      .withColumn("pw", pow(col("share"), alpha))
      .select(col("source"), col("n_docs"),
        round(col("share"), 6).as("actual_share"),
        round(col("pw") / sum(col("pw")).over(w), 6).as("temp_share"),
        round(col("pw") / sum(col("pw")).over(w) / col("share"), 6).as("boost"))
      .orderBy(col("source"))
  }

  /** Per-epoch n-gram NOVELTY: treating sources as ingest epochs (src0,
    * src1, … in numeric order), the fraction of each epoch's distinct
    * word-3-grams never seen in ANY earlier epoch — the
    * diminishing-returns signal that tells a crawl when new data stops
    * adding new content. One distinct (epoch, gram) projection feeds a
    * min-epoch-per-gram aggregate that joins back by gram; shuffles
    * carry gram keys only, and the floor-ppm output is
    * engine-independent. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables(spark, dir, "documents")
      .select(substring(col("source"), 4, 10).cast("int").as("epoch"),
        explode(graft.llm.TextOps.shingles(col("text"))).as("gram"))
      .distinct()
      .localCheckpoint(true) // feeds both per-epoch aggregates below
    // per-epoch totals and per-epoch first-seen counts fold SEPARATELY to
    // ~|epochs| rows and join there — the previous corpus-scale join-back
    // (every distinct (epoch, gram) row against the gram→first_epoch
    // table) shuffled the whole gram table once more for a result that
    // only needed two epoch-keyed counts; n_new(e) = |grams whose min
    // epoch is e| is the same number without re-attaching first_epoch to
    // every row
    val perEpoch = grams.groupBy(col("epoch")).agg(count(lit(1)).as("n_grams"))
    val firstCounts = grams.groupBy(col("gram")).agg(min(col("epoch")).as("epoch"))
      .groupBy(col("epoch")).agg(count(lit(1)).as("n_new"))
    perEpoch.join(firstCounts, Seq("epoch"), "left")
      .select(col("epoch"), col("n_grams"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        floor(coalesce(col("n_new"), lit(0L)).cast("double") /
            col("n_grams") * 1e6)
          .cast("long").as("novelty_ppm"))
      .orderBy(col("epoch"))
  }

  final case class LogitIter(iter: Int, loss: Double, gradNorm: Double)
  final case class LogitModel(weights: Array[Double], history: Seq[LogitIter],
                              nPos: Long, nNeg: Long,
                              accuracy: Double, majority: Double)

  /** Train a LOGISTIC-REGRESSION quality scorer in-engine — distilling
    * the hard keep/drop heuristic ([[TextOps.qualityFilter]]'s gate) into
    * a smooth, calibrated probability a pipeline can threshold per use
    * (strict for pretraining, loose for retrieval). The optimization is
    * full-batch gradient descent with the step size set by the logistic
    * loss's Lipschitz bound: after per-feature standardization,
    * L = λmax(XᵀX/4n) ≤ Σⱼ E[xⱼ²]/4 = (d+1)/4, so η = 4/(d+1) · 0.9
    * makes per-iteration loss decrease a THEOREM of convex optimization,
    * not a hope — which is what lets the report pin `loss_monotone` as
    * an oracle invariant ([[Similarity.kmeansFit]]'s discipline).
    *
    * Scale shape per iteration: ONE codegen'd pass over the corpus with
    * the weight vector inlined as literals; only d+2 scalar sums (the
    * gradient, the loss, the count) cross the exchange. The
    * standardization stats and label counts come from one prior pass;
    * accuracy from one final pass. Iteration count is a constant. */
  def qualityModelFit(spark: SparkSession, dir: String, maxIters: Int = 30,
                      tol: Double = 1e-4): LogitModel = {
    val words = split(col("text"), " ")
    val base = Tables(spark, dir, "documents").select(
        size(words).as("n_words"),
        round(size(array_distinct(words)).cast("double") / size(words), 4)
          .as("uniq"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") /
          size(words)).as("mwl"))
      .withColumn("y", (col("n_words") >= 20 && col("n_words") <= 5000 &&
        col("uniq") >= 0.35).cast("double"))
      .select(col("y"), log(lit(1.0) + col("n_words")).as("f1"),
        col("mwl").as("f2"), col("uniq").as("f3"))
    val feats = Seq("f1", "f2", "f3")
    val statAggs = Seq(count(lit(1)).cast("double").as("n"),
      sum(col("y")).as("n_pos")) ++
      feats.flatMap(f => Seq(avg(col(f)).as(s"mu_$f"),
        stddev_pop(col(f)).as(s"sd_$f")))
    val st = base.agg(statAggs.head, statAggs.tail: _*).collect()(0)
    val n = st.getAs[Double]("n")
    val nPos = st.getAs[Double]("n_pos").toLong
    val mu = feats.map(f => st.getAs[Double](s"mu_$f"))
    val sd = feats.map(f => math.max(st.getAs[Double](s"sd_$f"), 1e-12))
    def xs(j: Int): org.apache.spark.sql.Column =
      (col(feats(j)) - lit(mu(j))) / lit(sd(j))
    val d = feats.size + 1 // + bias
    val lr = 0.9 * 4.0 / d
    var w = Array.fill(d)(0.0)
    val history = scala.collection.mutable.ArrayBuffer.empty[LogitIter]
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      iter += 1
      val z = feats.indices.map(j => xs(j) * lit(w(j + 1)))
        .foldLeft(lit(w(0)): org.apache.spark.sql.Column)(_ + _)
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      // numerically stable logistic loss: max(z,0) − z·y + log1p(e^−|z|)
      val lossCol = greatest(z, lit(0.0)) - z * col("y") + log1p(exp(-abs(z)))
      val gradAggs = (sum(p - col("y")).as("g0") +:
        feats.indices.map(j => sum((p - col("y")) * xs(j)).as(s"g${j + 1}"))) :+
        sum(lossCol).as("loss")
      val r = base.agg(gradAggs.head, gradAggs.tail: _*).collect()(0)
      val grad = Array.tabulate(d)(j => r.getAs[Double](s"g$j") / n)
      val loss = r.getAs[Double]("loss") / n
      val gnorm = math.sqrt(grad.map(g => g * g).sum)
      history += LogitIter(iter, loss, gnorm)
      converged = gnorm < tol
      if (!converged) w = w.zip(grad).map { case (wi, gi) => wi - lr * gi }
    }
    val zf = feats.indices.map(j => xs(j) * lit(w(j + 1)))
      .foldLeft(lit(w(0)): org.apache.spark.sql.Column)(_ + _)
    val acc = base.agg(avg(((zf >= 0.0) === (col("y") === 1.0)).cast("double")))
      .collect()(0).getDouble(0)
    LogitModel(w, history.toSeq, nPos, n.toLong - nPos, acc,
      math.max(nPos, n.toLong - nPos) / n)
  }

  private val logitCache =
    scala.collection.concurrent.TrieMap.empty[String, LogitModel]
  def qualityModelFitCached(spark: SparkSession, dir: String): LogitModel =
    logitCache.getOrElseUpdate(Tables.fingerprint(spark, dir, "documents"),
      qualityModelFit(spark, dir))

  /** [[qualityModelFit]] as a driver-verifiable query: exact label
    * counts (the oracle replays the gate heuristic in SQL) anchor the
    * data side; the optimization guarantees — loss monotonically
    * decreasing (the 1/L step-size theorem) and gradient norm shrinking
    * — are pinned as booleans the oracle asserts true. The
    * beats-majority ACCURACY claim is deliberately NOT oracled: GD
    * minimizes log-loss, not 0-1 loss, so it is a property of this
    * corpus rather than a theorem — CurationSpec asserts it against the
    * actual data instead. */
  def qualityModelReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val m = qualityModelFitCached(spark, dir)
    val losses = m.history.map(_.loss)
    val monotone = losses.zip(losses.drop(1)).forall { case (a, b) => b <= a + 1e-9 }
    val gradDecreased = m.history.last.gradNorm <= m.history.head.gradNorm
    Seq((m.nPos, m.nNeg, m.weights.length, monotone, gradDecreased))
      .toDF("n_pos", "n_neg", "n_features", "loss_monotone", "grad_decreased")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cur_quality_model" -> ((s, d) => qualityModelReport(s, d)),
    "cur_mixture_temperature" -> ((s, d) => mixtureTemperature(s, d)),
    "cur_ngram_novelty" -> ((s, d) => ngramNovelty(s, d)),
    "cur_sample_weighted" -> ((s, d) => sampleWeighted(s, d)),
    "cur_zorder_layout" -> ((s, d) => zorderLayout(s, d)),
    "cur_chunk_documents" -> ((s, d) => chunkDocuments(s, d)),
    "cur_pipeline_summary" -> pipelineSummary,
    "cur_sample_stratified" -> ((s, d) => sampleStratified(s, d)),
    "cur_sample_bottomk" -> ((s, d) => sampleBottomK(s, d)),
    "cur_mixture_apply" -> mixtureApply,
    "cur_token_shards" -> ((s, d) => tokenShards(s, d)),
    "cur_split_assign" -> splitAssign,
    "cur_cross_split_leakage" -> crossSplitLeakage,
    "cur_scrub" -> scrub,
    "cur_repetition" -> repetition,
    "cur_decontaminate" -> decontaminate,
    "cur_decontaminate_bloom" -> decontaminateBloom,
    "cur_quality_gate" -> qualityGate,
    "cur_pack_sequences" -> ((s, d) => packSequences(s, d)),
    "cur_mixture_plan" -> mixturePlan
  )

  val oracles: Map[String, String] = Map(
    // exact label counts replay the gate heuristic; the optimization
    // THEOREMS (1/L-step monotone descent, shrinking gradient) are
    // pinned true; the corpus-dependent accuracy claim lives in
    // CurationSpec, not here
    "cur_quality_model" ->
      """WITH f AS (SELECT len(string_split(text, ' ')) AS n_words,
        |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |        / len(string_split(text, ' ')), 4) AS uniq
        |  FROM documents)
        |SELECT
        |  CAST(count(*) FILTER (WHERE n_words >= 20 AND n_words <= 5000
        |                          AND uniq >= 0.35) AS BIGINT) AS n_pos,
        |  CAST(count(*) FILTER (WHERE NOT (n_words >= 20 AND n_words <= 5000
        |                                     AND uniq >= 0.35)) AS BIGINT) AS n_neg,
        |  CAST(4 AS INTEGER) AS n_features,
        |  true AS loss_monotone, true AS grad_decreased
        |FROM f""".stripMargin,
    // power/ln parity at round-6 is the BM25/unigram precedent; the
    // normalizer sums run over ~|sources| rows
    "cur_mixture_temperature" ->
      """WITH s AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |t AS (SELECT source, n_docs,
        |        CAST(n_docs AS DOUBLE) / sum(n_docs) OVER () AS share,
        |        power(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 0.7) AS pw
        |      FROM s)
        |SELECT source, n_docs, round(share, 6) AS actual_share,
        |  round(pw / sum(pw) OVER (), 6) AS temp_share,
        |  round(pw / sum(pw) OVER () / share, 6) AS boost
        |FROM t ORDER BY source""".stripMargin,
    // same distinct (epoch, gram) projection, same min-epoch first-seen,
    // floor-ppm output is engine-independent
    "cur_ngram_novelty" ->
      """WITH g AS (
        |  SELECT DISTINCT CAST(substring(source, 4) AS INTEGER) AS epoch, gram
        |  FROM (SELECT source,
        |          unnest(list_distinct(list_transform(
        |            generate_series(1, len(string_split(text,' ')) - 2),
        |            i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS gram
        |        FROM documents WHERE len(string_split(text,' ')) >= 3)),
        |f AS (SELECT gram, min(epoch) AS first_epoch FROM g GROUP BY gram)
        |SELECT g.epoch, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN g.epoch = f.first_epoch THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |  CAST(floor(CAST(sum(CASE WHEN g.epoch = f.first_epoch THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*) * 1e6) AS BIGINT) AS novelty_ppm
        |FROM g JOIN f USING (gram)
        |GROUP BY g.epoch ORDER BY g.epoch""".stripMargin,
    // exact replay: md5 nibbles → binary fraction → A-ES key; the division
    // by 2^52 is exact, so parity rests only on ln (the BM25 precedent)
    "cur_sample_weighted" ->
      """WITH h AS (SELECT doc_id, n_chars, md5(CAST(doc_id AS VARCHAR)) AS hx
        |           FROM documents),
        |v AS (SELECT doc_id, n_chars,
        |        list_sum(list_transform(generate_series(1, 13),
        |          i -> (strpos('0123456789abcdef', substring(hx, i, 1)) - 1)
        |               * (CAST(1 AS BIGINT) << (4 * (13 - i))))) AS v
        |      FROM h)
        |SELECT doc_id, n_chars,
        |  round(ln((v + 1) / 4503599627370496.0) / n_chars, 6) AS es_key
        |FROM v ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin,
    // full replay: same Morton interleave (bit arithmetic), same ntile
    // file assignment, same min/max zone-map intersection tests
    "cur_zorder_layout" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus FROM events),
        |b AS (SELECT min(tus) AS t0, max(tus) AS t1,
        |        min(user_id) AS u0, max(user_id) AS u1 FROM e),
        |d AS (SELECT event_id, user_id, tus,
        |        (tus - b.t0) // 60000000 AS ym,
        |        (b.t1 - b.t0) // 60000000 AS ym_max,
        |        ((user_id - b.u0) * 256) // (b.u1 - b.u0 + 1) AS x8,
        |        (((tus - b.t0) // 60000000) * 256) // ((b.t1 - b.t0) // 60000000 + 1) AS y8
        |      FROM e, b),
        |z AS (SELECT *, list_sum(list_transform(generate_series(0, 7),
        |        i -> ((x8 >> i) & 1) * (CAST(1 AS BIGINT) << (2*i + 1))
        |           + ((y8 >> i) & 1) * (CAST(1 AS BIGINT) << (2*i)))) AS zv
        |      FROM d),
        |lay AS (
        |  SELECT 'ingest' AS layout, ntile(64) OVER (ORDER BY tus, event_id) AS file_id,
        |         user_id, ym, ym_max FROM z
        |  UNION ALL
        |  SELECT 'zorder' AS layout, ntile(64) OVER (ORDER BY zv, event_id) AS file_id,
        |         user_id, ym, ym_max FROM z),
        |f AS (SELECT layout, file_id, min(user_id) AS u_min, max(user_id) AS u_max,
        |        min(ym) AS t_min, max(ym) AS t_max, max(ym_max) AS ym_max
        |      FROM lay GROUP BY layout, file_id)
        |SELECT layout, count(*) AS n_files,
        |  CAST(sum(CASE WHEN u_max >= 10 AND u_min <= 19 THEN 1 ELSE 0 END) AS BIGINT) AS scan_user,
        |  CAST(sum(CASE WHEN t_max >= ym_max // 4 AND t_min <= ym_max // 4 + 1439 THEN 1 ELSE 0 END) AS BIGINT) AS scan_time,
        |  CAST(sum(CASE WHEN u_max >= 10 AND u_min <= 19
        |            AND t_max >= ym_max // 4 AND t_min <= ym_max // 4 + 1439 THEN 1 ELSE 0 END) AS BIGINT) AS scan_both
        |FROM f GROUP BY layout ORDER BY layout""".stripMargin,
    // the stride walk replayed with generate_series; 1-based list slicing
    // mirrors slice(); md5 of the space-joined window agrees byte-for-byte
    "cur_chunk_documents" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |st AS (SELECT doc_id, ws,
        |         unnest(range(1, greatest(len(ws), 1) + 1, 48)) AS s
        |       FROM w)
        |SELECT doc_id,
        |  CAST((s - 1) / 48 AS INTEGER) AS chunk_idx,
        |  CAST(s AS INTEGER) AS start_token,
        |  CAST(least(64, len(ws) - s + 1) AS INTEGER) AS n_tokens,
        |  md5(array_to_string(ws[s : least(s + 63, len(ws))], ' ')) AS chunk_md5
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    "cur_pipeline_summary" ->
      """WITH q AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
        |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) /
        |          len(string_split(text, ' ')), 4) AS ur
        |  FROM documents),
        |kept AS (SELECT * FROM q WHERE n_words >= 20 AND n_words <= 5000 AND ur >= 0.35),
        |uniq AS (
        |  SELECT * FROM (SELECT kept.*,
        |    min(doc_id) OVER (PARTITION BY sha256(text)) AS keeper FROM kept)
        |  WHERE doc_id = keeper),
        |s AS (SELECT *, substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket FROM uniq)
        |SELECT CASE WHEN bucket < 'c' THEN 'train'
        |            WHEN bucket IN ('c', 'd') THEN 'val'
        |            ELSE 'test' END AS split,
        |  lang, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS total_tokens
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "cur_sample_stratified" ->
      """WITH h AS (SELECT source, doc_id,
        |             md5(CAST(doc_id AS VARCHAR) || ':sample') AS h
        |           FROM documents),
        |r AS (SELECT source, doc_id, h,
        |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
        |      FROM h)
        |SELECT source, CAST(rk AS INTEGER) AS rk, doc_id, h
        |FROM r WHERE rk <= 25 ORDER BY source, rk""".stripMargin,
    // the per-source percentile cutoff replayed with percentile_cont
    // over the SAME rounded ratios; cut emitted floor-scaled to ppm
    "cur_quality_gate" ->
      """WITH s AS (
        |  SELECT doc_id, source,
        |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |          / len(string_split(text, ' ')), 6) AS unique_ratio
        |  FROM documents),
        |c AS (SELECT source,
        |        percentile_cont(0.25) WITHIN GROUP (ORDER BY unique_ratio) AS cut
        |      FROM s GROUP BY source)
        |SELECT s.source, s.doc_id, s.unique_ratio,
        |  CAST(floor(c.cut * 1e6) AS BIGINT) AS cut_ppm,
        |  s.unique_ratio >= c.cut AS keep
        |FROM s JOIN c USING (source) ORDER BY s.doc_id""".stripMargin,
    // the chunk walk + per-source running token sum replayed; `//` is
    // floor division on the nonneg cumulative count
    "cur_pack_sequences" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |st AS (SELECT doc_id, ws,
        |         unnest(range(1, greatest(len(ws), 1) + 1, 48)) AS s
        |       FROM w),
        |ch AS (SELECT doc_id, CAST((s - 1) / 48 AS INTEGER) AS chunk_idx,
        |         CAST(least(64, len(ws) - s + 1) AS INTEGER) AS n_tokens
        |       FROM st),
        |j AS (SELECT d.source, ch.doc_id, ch.chunk_idx, ch.n_tokens
        |      FROM ch JOIN documents d USING (doc_id)),
        |c AS (SELECT source, doc_id, chunk_idx, n_tokens,
        |        coalesce(sum(n_tokens) OVER (PARTITION BY source
        |          ORDER BY doc_id, chunk_idx
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |      FROM j)
        |SELECT source, doc_id, chunk_idx, n_tokens,
        |  CAST(cb // 512 AS BIGINT) AS seq_id,
        |  CAST(cb % 512 AS INTEGER) AS seq_offset
        |FROM c ORDER BY source, doc_id, chunk_idx""".stripMargin,
    // bloom invariant form: exact contaminated count replayed, the
    // no-false-negative and bounded-over-flag proofs asserted in-query
    "cur_decontaminate_bloom" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2]))) AS sh
        |  FROM documents),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        |ov AS (SELECT s.doc_id, count(*) AS n_overlap
        |       FROM sh s JOIN ev USING (sh)
        |       WHERE s.doc_id % 97 <> 0 GROUP BY s.doc_id)
        |SELECT count(*) AS n_docs,
        |  (SELECT count(*) FROM ov WHERE n_overlap >= 5) AS n_contaminated,
        |  TRUE AS no_false_negatives, TRUE AS overflag_bounded
        |FROM documents WHERE doc_id % 97 <> 0""".stripMargin,
    // same md5 bytes in both engines ⇒ identical bottom-k set
    "cur_sample_bottomk" ->
      """SELECT doc_id, source,
        |  md5(CAST(doc_id AS VARCHAR) || ':bottomk') AS h
        |FROM documents ORDER BY h, doc_id LIMIT 100""".stripMargin,
    // u = first-4-md5-nibbles/65536 is an exact binary fraction, so the
    // keep decision compares identical doubles in both engines
    "cur_mixture_apply" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |r AS (
        |  SELECT source,
        |    round(least((1.0 / count(*) OVER ()) /
        |          (CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ()), 1.0), 6) AS sample_rate
        |  FROM s),
        |d AS (
        |  SELECT doc_id, source,
        |    round((
        |      (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) || ':mix'), 2, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) || ':mix'), 3, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR) || ':mix'), 4, 1)) - 1)
        |    ) / 65536.0, 10) AS u
        |  FROM documents)
        |SELECT d.doc_id, d.source, d.u, r.sample_rate, d.u < r.sample_rate AS kept
        |FROM d JOIN r USING (source) ORDER BY doc_id""".stripMargin,
    "cur_token_shards" ->
      """WITH t AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
        |  FROM documents),
        |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t)
        |SELECT source, doc_id, n_tokens, cum_tokens,
        |  CAST((cum_tokens - 1) // 20000 AS INTEGER) AS shard
        |FROM c ORDER BY source, doc_id""".stripMargin,
    // brute-force true pairs (the ngram-jaccard oracle) + the md5 split
    // replay, folded to the per-split-pair leakage report
    "cur_cross_split_leakage" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |      i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS s
        |  FROM documents WHERE len(string_split(text,' ')) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |          len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |sp AS (SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
        |       ELSE 'test' END AS split FROM documents),
        |x AS (SELECT sa.split AS split_a, sb.split AS split_b, p.doc_a, p.doc_b, p.jaccard
        |      FROM pairs p JOIN sp sa ON p.doc_a = sa.doc_id
        |                   JOIN sp sb ON p.doc_b = sb.doc_id
        |      WHERE sa.split <> sb.split),
        |w AS (SELECT split_a, split_b, doc_a, doc_b, jaccard,
        |        row_number() OVER (PARTITION BY split_a, split_b
        |          ORDER BY jaccard DESC, doc_a ASC, doc_b ASC) AS rk,
        |        count(*) OVER (PARTITION BY split_a, split_b) AS n
        |      FROM x)
        |SELECT split_a, split_b, n AS n_leaking_pairs,
        |  doc_a AS worst_doc_a, doc_b AS worst_doc_b, jaccard AS worst_jaccard
        |FROM w WHERE rk = 1 ORDER BY split_a, split_b""".stripMargin,
    "cur_split_assign" ->
      """SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "cur_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INTEGER) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[0-9]{4,}')) AS INTEGER) AS n_num_runs,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '[0-9]{4,}', '<NUM>', 'g'),
        |    ' +', ' ', 'g')) AS clean_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "cur_repetition" ->
      """WITH ex AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |uni AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |         CAST(max(c) AS BIGINT) AS top_word_count,
        |         count(*) AS n_unique
        |  FROM (SELECT doc_id, w, count(*) AS c FROM ex GROUP BY doc_id, w)
        |  GROUP BY doc_id),
        |bex AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS b
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |       unnest(generate_series(1, len(ws) - 1)) AS t(i)),
        |bi AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |         CAST(max(c) AS BIGINT) AS top_bigram_count
        |  FROM (SELECT doc_id, b, count(*) AS c FROM bex GROUP BY doc_id, b)
        |  GROUP BY doc_id)
        |SELECT uni.doc_id, n_words,
        |  round(CAST(top_word_count AS DOUBLE) / n_words, 4) AS top_word_fraction,
        |  round(1.0 - CAST(n_unique AS DOUBLE) / n_words, 4) AS dup_word_fraction,
        |  round(CAST(top_bigram_count AS DOUBLE) / n_bigrams, 4) AS top_bigram_fraction
        |FROM uni JOIN bi ON uni.doc_id = bi.doc_id
        |ORDER BY uni.doc_id""".stripMargin,
    "cur_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2]))) AS sh
        |  FROM documents),
        |ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        |ov AS (SELECT s.doc_id, count(*) AS n_overlap
        |       FROM sh s JOIN ev USING (sh)
        |       WHERE s.doc_id % 97 <> 0 GROUP BY s.doc_id)
        |SELECT d.doc_id, coalesce(ov.n_overlap, 0) AS n_overlap,
        |  coalesce(ov.n_overlap, 0) >= 5 AS contaminated
        |FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
        |WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""".stripMargin,
    "cur_mixture_plan" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, total_tokens,
        |  round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6) AS actual_share,
        |  round(least((1.0 / count(*) OVER ()) /
        |        (CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ()), 1.0), 6) AS sample_rate,
        |  round(n_docs * least((1.0 / count(*) OVER ()) /
        |        (CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ()), 1.0), 2) AS expected_docs
        |FROM s ORDER BY source""".stripMargin
  )
}
