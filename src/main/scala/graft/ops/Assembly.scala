package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dataset assembly: the steps between curation and tokenization in a
  * training-data pipeline — deterministic split assignment and
  * sequential context-window packing. Both are pure column/window
  * expressions with exact DuckDB twins, so the assignments themselves
  * sit under the oracle.
  */
object Assembly {
  type Q = (SparkSession, String) => DataFrame

  /** Deterministic, content-independent train/val/test assignment:
    * bucket on the first hex nibble of md5(doc_id || salt) —
    * 0-b -> train (75%), c-d -> val (12.5%), e-f -> test (12.5%).
    *
    * Keyed on doc_id (not text) so an edited document never migrates
    * across splits between pipeline runs — the property that prevents
    * silent test-set leakage over time; the salt versions the split.
    * md5's nibble distribution makes the buckets uniform in
    * expectation at any corpus size; assignment is a per-row codegen'd
    * expression, no shuffle, so it pipelines with the scan at 100 TB. */
  def splitColumn(docId: org.apache.spark.sql.Column,
                  salt: String = "v1"): org.apache.spark.sql.Column = {
    val nibble = substring(md5(concat(docId.cast(StringType), lit(":" + salt))), 1, 1)
    when(nibble.between("0", "b"), "train")
      .when(nibble.between("c", "d"), "val")
      .otherwise("test")
  }

  val datasetSplit: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        splitColumn(col("doc_id")).as("split"))
      .orderBy(col("doc_id"))

  /** Split balance as data: per-(split, lang) doc and token totals —
    * the sanity numbers checked before any training run. */
  val splitStats: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), splitColumn(col("doc_id")).as("split"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy(col("split"), col("lang"))

  /** Context-window budget for [[sequencePacking]] (whitespace-token
    * units; a real pipeline would use the BPE count — same plan). */
  val packBudget = 2048

  /** Sequential concatenation packing: within each (lang, source)
    * stream, documents are concatenated in doc_id order and chunked
    * into fixed context windows; `pack_id` is the window a document
    * STARTS in (`floor(tokens_before / budget)`). This is the
    * standard streaming approximation of bin packing — one running
    * sum, no iteration, deterministic — and exactly expressible in
    * SQL, so the assignment is oracle-checked.
    *
    * Scale posture: the window partitions by (lang, source), so
    * parallelism is the stream count, which a 100 TB pipeline widens
    * by adding a hash-range shard key to the partition spec (the
    * plan shape is unchanged); the running sum is one shuffle by
    * partition key, no global sort. */
  val sequencePacking: Q = (s, d) => {
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("tokens_before") / packBudget))
      .orderBy(col("doc_id"))
  }

  /** The 100 TB form of [[sequencePacking]]: a distributed prefix
    * sum. The plain version's window serializes each (lang, source)
    * stream through one task — fine for dozens of streams, a
    * straggler at petabyte scale. This variant shards each stream
    * into contiguous doc_id ranges and computes the running sum in
    * two phases:
    *
    *  1. per-(stream, shard) token totals — one small aggregation —
    *     turned into EXCLUSIVE per-shard offsets by a window over the
    *     tiny (streams x shards) frame, broadcast back;
    *  2. a within-shard running sum (window partitioned by
    *     (lang, source, shard) — parallelism x nShards) plus the
    *     shard's offset.
    *
    * Because shards are contiguous in doc_id and the offset is the
    * exact sum of everything before the shard, the result is
    * IDENTICAL to the serial computation — which is exactly how it
    * is checked: q55b shares q55's oracle SQL (the naive DuckDB
    * running sum), so the distributed algorithm is hash-verified
    * against the sequential definition. */
  def sequencePackingSharded(s: SparkSession, d: String,
                             nShards: Int = 8): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
    // contiguous id-range shards: every doc in shard k precedes every
    // doc in shard k+1, per stream (ids are globally ordered).
    // max over an empty table is NULL: mirror the serial plan's empty
    // result instead of unboxing it.
    val maxRow = base.agg(max(col("doc_id"))).head()
    if (maxRow.isNullAt(0)) return sequencePacking(s, d)
    val maxId = maxRow.getLong(0)
    val shardWidth = math.max(1L, maxId / nShards + 1)
    val sharded = base.withColumn("shard", (col("doc_id") / shardWidth).cast(LongType))
    val offsetW = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col("lang"), col("source"), col("shard"))
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("shard_offset",
        coalesce(sum(col("shard_tokens")).over(offsetW), lit(0L)))
      .select(col("lang"), col("source"), col("shard"), col("shard_offset"))
    val innerW = Window.partitionBy(col("lang"), col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sharded
      .join(broadcast(offsets), Seq("lang", "source", "shard"))
      .withColumn("tokens_before",
        col("shard_offset") + coalesce(sum(col("n_tokens")).over(innerW), lit(0L)))
      .withColumn("pack_id", floor(col("tokens_before") / packBudget))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("tokens_before"), col("pack_id"))
      .orderBy(col("doc_id"))
  }

  /** Split decontamination: eval-split documents that are near-dups
    * of a train-split document — the leakage a held-out set must not
    * contain. Composes the deterministic near-dup pair graph
    * (blocked n-gram Jaccard >= 0.5, the q36 operator) with the
    * split assignment (q56): any pair straddling train and val/test
    * flags the EVAL side, with its closest train contaminator and
    * the similarity. At 100 TB this is the same bucket-blocked pair
    * join q36 runs — no new shuffle shape — plus two per-row split
    * expressions; a pipeline runs it after every split re-deal. */
  val splitContamination: Q = (s, d) => {
    val pairs = Dedup.ngramJaccardBlocked(s, d)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .withColumn("split_a", splitColumn(col("doc_a")))
      .withColumn("split_b", splitColumn(col("doc_b")))
    // Normalize to (eval doc, train contaminator) in ONE pass: a
    // union of two filtered readings would duplicate the whole
    // blocked-pair join subtree in the plan (Spark does not share
    // common subplans across a union), doubling the expensive work —
    // instead explode both orientations of each pair and filter.
    // Exactly one end must be train; an eval-eval pair is not
    // contamination and a train-train pair flags nothing.
    pairs
      .select(col("jaccard"), explode(array(
        struct(col("doc_a").as("eval_doc"), col("split_a").as("eval_split"),
          col("doc_b").as("train_doc"), col("split_b").as("other_split")),
        struct(col("doc_b").as("eval_doc"), col("split_b").as("eval_split"),
          col("doc_a").as("train_doc"), col("split_a").as("other_split"))))
        .as("o"))
      .filter(col("o.eval_split") =!= "train" && col("o.other_split") === "train")
      .groupBy(col("o.eval_doc").as("eval_doc"), col("o.eval_split").as("eval_split"))
      .agg(count(lit(1)).as("n_contaminators"),
        max(col("jaccard")).as("max_jaccard"),
        min(col("o.train_doc")).as("example_train_doc"))
      .orderBy(col("eval_doc"))
  }

  /** Verbatim n-gram decontamination (q57b): the GPT-3/PaLM-style
    * benchmark-leakage check that complements q57's near-dup pass —
    * an eval document is contaminated if any of its n-token windows
    * appears VERBATIM anywhere in the train split (near-dup Jaccard
    * misses a single quoted paragraph inside an otherwise-different
    * document; this catches it). Reports, per eval doc, its distinct
    * n-gram count, how many collide with the train set, and the rate.
    *
    * Scale shape: the train side collapses to a DISTINCT set of
    * 8-byte hashed n-grams (q36's one-xxhash64-per-window trick — the
    * shuffle carries longs, never token strings); eval grams hash-join
    * against it. At 100 TB the exact distinct set is the auditable
    * form benchmarks require for their eval sets (eval corpora are
    * tiny; the join's build side is what's large) — a pipeline
    * screening PETABYTES of candidate evals would swap the exact set
    * for `DataFrameStatFunctions.bloomFilter` at ~1% false-positive,
    * same plan shape. The DuckDB twin joins STRING n-grams (q36's
    * convention: hashed and string windows have identical equality
    * structure modulo 2^-64 collisions). Docs with NULL text carry no
    * windows and are absent on both engines. */
  val decontaminationN = 5
  val ngramDecontamination: Q = (s, d) =>
    ngramDecontaminationOf(Tables.documents(s, d))

  def ngramDecontaminationOf(docs: DataFrame): DataFrame = {
    // token hashes must be a materialized attribute before the shingle
    // lambda consumes them (expressions inlined into lambda bodies
    // re-evaluate per element — O(tokens^2))
    val withTh = docs
      .select(col("doc_id"), splitColumn(col("doc_id")).as("split"),
        Dedup.tokenHashes(col("text")).as("th"))
    // persist BEFORE the explodes: Generate pulls its child expression
    // into itself (reference count 1), inlining the whole
    // tokenize+hash+shingle lambda chain and re-evaluating it per
    // EMITTED ROW — measured 10.8 s vs 0.5 s for the same 189k-row
    // explode at sf0.1. The cache is an 8-byte-hash array per doc,
    // released per query via releaseSketchCaches (Bench/Verify both
    // call it), the same discipline as the minhash tiers.
    val grams = Dedup.persistSketch(withTh.select(col("doc_id"), col("split"),
      Dedup.shinglesFromTokenHashes(col("th"), decontaminationN).as("grams")))
    val trainGrams = grams.filter(col("split") === "train")
      .select(explode(col("grams")).as("g")).distinct()
      .withColumn("hit", lit(1))
    grams.filter(col("split") =!= "train")
      .select(col("doc_id"), col("split"), explode(col("grams")).as("g"))
      .join(trainGrams, Seq("g"), "left")
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .withColumn("hit_rate", col("n_hits").cast(DoubleType) / col("n_grams"))
      .withColumn("is_contaminated", col("n_hits") > 0L)
      .orderBy(col("doc_id"))
  }

  /** Source-mixture rebalancing (q59): deterministic downsampling
    * toward a uniform target across sources — the "data mixing" step
    * that keeps one crawl from dominating the training mix. Per
    * source, the keep probability is `target_n / n_source` (capped
    * at 1), quantized to a 256-bucket grid computed in exact integer
    * arithmetic so both engines derive the identical threshold; a
    * document is kept iff its salted md5 byte falls below the
    * threshold — the same id-keyed determinism as the split (a doc's
    * fate never changes across runs; re-salt to re-deal). Scale
    * shape: one tiny per-source count aggregate broadcast back onto
    * a scan; no data-sized shuffle. */
  val sourceMixture: Q = (s, d) =>
    mixtureOf(Tables.documents(s, d).select(col("doc_id"), col("source")))

  def mixtureOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_source"))
    val total = counts.agg(sum(col("n_source")).as("n_total"),
      count(lit(1)).as("n_sources"))
    // keep_buckets in [0,256]: (256 * n_total) div (n_sources * n_source),
    // exact integer arithmetic on both engines (no float rounding to
    // disagree on); the comparison below is lexicographic on 2-char
    // lowercase hex, which orders identically to the numeric value.
    val withRates = counts.crossJoin(broadcast(total))
      .withColumn("keep_buckets",
        least(lit(256L), expr("(256 * n_total) div (n_sources * n_source)")))
      .withColumn("threshold_hex",
        lpad(lower(hex(col("keep_buckets"))), 2, "0"))
      .select(col("source"), col("keep_buckets"), col("threshold_hex"))
    val bucketHex = substring(
      md5(concat(col("doc_id").cast(StringType), lit(":mix-v1"))), 1, 2)
    docs.join(broadcast(withRates), Seq("source"))
      .withColumn("sampled",
        col("keep_buckets") === 256L || bucketHex < col("threshold_hex"))
      .select(col("doc_id"), col("source"), col("keep_buckets"), col("sampled"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-smoothed source mixture with upsampling (q59b): the
    * standard alpha=0.5 resampling that flattens a skewed source
    * distribution without going fully uniform — each source's target
    * share is proportional to sqrt(n_source), so a 100x bigger crawl
    * gets only 10x the slots and rare, high-value sources are
    * UPSAMPLED (emitted more than once). Per document the output is
    * `n_copies`: `target div n_source` whole copies for everyone in
    * the source, plus one fractional copy dealt by the same salted
    * md5-byte threshold as q59.
    *
    * Cross-engine exactness: sqrt of a BIGINT is the one non-integer
    * step, and `floor(sqrt(n))` is exact for n < 2^52 (IEEE sqrt is
    * correctly rounded and never rounds across an integer boundary
    * there), so `isqrt` is identical in Spark and DuckDB and
    * everything after it — allocation, whole copies, 256-bucket
    * fractional threshold — is integer arithmetic. Per-source sums of
    * isqrt are integer sums, so no float-addition-order hazard.
    * Scale shape: identical to q59 — one tiny per-source aggregate
    * broadcast onto the scan; no data-sized shuffle. */
  val temperatureMixture: Q = (s, d) =>
    temperatureMixtureOf(Tables.documents(s, d).select(col("doc_id"), col("source")))

  def temperatureMixtureOf(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_source"))
      .withColumn("isqrt",
        floor(sqrt(col("n_source").cast(DoubleType))).cast(LongType))
    val totals = counts.agg(sum(col("n_source")).as("n_total"),
      sum(col("isqrt")).as("tot_isqrt"))
    val rates = counts.crossJoin(broadcast(totals))
      .withColumn("target_n", expr("(n_total * isqrt) div tot_isqrt"))
      .withColumn("n_base", expr("target_n div n_source"))
      // rem_buckets < 256 always (target_n % n_source < n_source), so
      // the 2-char hex threshold never truncates
      .withColumn("rem_buckets", expr("(256 * (target_n % n_source)) div n_source"))
      .withColumn("threshold_hex", lpad(lower(hex(col("rem_buckets"))), 2, "0"))
      .select(col("source"), col("target_n"), col("n_base"), col("threshold_hex"))
    val bucketHex = substring(
      md5(concat(col("doc_id").cast(StringType), lit(":temp-v1"))), 1, 2)
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("n_copies",
        col("n_base") + when(bucketHex < col("threshold_hex"), 1L).otherwise(0L))
      .select(col("doc_id"), col("source"), col("target_n"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic shard assignment within a split: md5 nibble value
    * mod nShards — id-keyed like the split itself, so a document's
    * shard is stable across runs; uniform because md5 nibbles are. */
  def shardColumn(docId: org.apache.spark.sql.Column, nShards: Int = 8,
                  salt: String = "shard-v1"): org.apache.spark.sql.Column = {
    val nibble = substring(md5(concat(docId.cast(StringType), lit(":" + salt))), 1, 1)
    conv(nibble, 16, 10).cast(IntegerType) % nShards
  }

  /** Corpus manifest (q65): the end-cap of the whole pipeline — for
    * the documents that SURVIVE curation (q54's composed verdict),
    * grouped by (split, shard), the doc/token/byte totals plus id
    * range a training job consumes to plan its data loading. This is
    * the table a dataset release ships next to the parquet files; the
    * oracle twin replays curation (recursive near-dup closure
    * included), split, and shard, so the manifest itself is
    * hash-checked. [[materializeCorpus]] writes the matching physical
    * layout. Scale: curation's own dataflow + one per-row projection
    * + a (splits x shards)-sized aggregate. */
  val corpusManifest: Q = (s, d) => {
    val kept = Curation.corpusFilter(s, d).filter(col("keep")).select(col("doc_id"))
    val enriched = Tables.documents(s, d)
      .select(col("doc_id"), splitColumn(col("doc_id")).as("split"),
        shardColumn(col("doc_id")).as("shard"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"),
        octet_length(col("text")).as("n_bytes"))
    kept.join(enriched, Seq("doc_id"))
      .groupBy(col("split"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(col("n_bytes")).as("sum_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("split"), col("shard"))
  }

  /** Write the curated corpus in the layout [[corpusManifest]]
    * describes: parquet partitioned by (split, shard), one file per
    * leaf via an explicit repartition on the partition keys — the
    * consumer-facing sink of the pipeline. At 100 TB the repartition
    * gains a salt column inside each shard (more writers per leaf,
    * same directory layout); here one writer per leaf keeps the
    * output exactly one file per manifest row. */
  def materializeCorpus(s: SparkSession, d: String, outDir: String,
                        nShards: Int = 8): Unit = {
    val kept = Curation.corpusFilter(s, d).filter(col("keep")).select(col("doc_id"))
    Tables.documents(s, d)
      .join(kept, Seq("doc_id"))
      .withColumn("split", splitColumn(col("doc_id")))
      .withColumn("shard", shardColumn(col("doc_id"), nShards))
      .repartition(col("split"), col("shard"))
      .write.mode("overwrite").partitionBy("split", "shard").parquet(outDir)
  }

  /** Split token-distribution drift (q64): for the top-k tokens of
    * the train split, how far the val split's relative frequency
    * diverges — the audit run after every split re-deal to catch a
    * salt/bucketing bug skewing content across splits (doc-level
    * balance, q56b, cannot see token-level skew). Per token the
    * scaled L1 term is |n_train·T_val − n_val·T_train| — EXACT
    * integer arithmetic (a KL/log formulation would hash-diverge on
    * libm ulps) — with one int/int double division for the
    * human-readable rate. Overflow posture (ADVICE r4): this session
    * runs ANSI off, so plain BIGINT products would WRAP silently on
    * the Spark side while only the DuckDB twin errors — at scales
    * with no oracle run the drift would be silently wrong. The cross
    * products are therefore computed in DECIMAL(38,0) (exact, cannot
    * wrap: both factors < 2^63 so the product < 8.5e37 < 1e38) and
    * narrowed back to the BIGINT the oracle compares behind an
    * explicit raise_error bound check — both engines now fail loudly
    * at the same corpus size. Shape: explode → one hash agg
    * on token → tiny totals broadcast → TakeOrderedAndProject. */
  val splitTokenDrift: Q = (s, d) => {
    val k = 50
    val dec = DecimalType(38, 0)
    val toks = Tables.documents(s, d)
      .select(splitColumn(col("doc_id")).as("split"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("split").isin("train", "val"))
    val counts = toks.groupBy(col("token"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"))
    val totals = counts.agg(sum(col("n_train")).as("tot_train"),
      sum(col("n_val")).as("tot_val"))
    counts.crossJoin(broadcast(totals))
      .withColumn("drift_num_dec",
        abs(col("n_train").cast(dec) * col("tot_val").cast(dec)
          - col("n_val").cast(dec) * col("tot_train").cast(dec)))
      .withColumn("drift_num",
        when(col("drift_num_dec") > lit(Long.MaxValue).cast(dec),
          raise_error(lit("q64 drift_num exceeds BIGINT; widen the output column to DECIMAL(38,0)")))
          .otherwise(col("drift_num_dec").cast(LongType)))
      .withColumn("drift",
        col("drift_num").cast(DoubleType) /
          (col("tot_train").cast(dec) * col("tot_val").cast(dec)).cast(DoubleType))
      .select(col("token"), col("n_train"), col("n_val"),
        col("drift_num"), col("drift"))
      .orderBy(col("n_train").desc, col("token"))
      .limit(k)
  }

  /** Sliding-window chunk geometry for q69: 32-token windows every 24
    * tokens (8-token overlap) — the RAG-index / pretraining-shard
    * "split long documents with context carry-over" step. */
  val chunkWindow = 32
  val chunkStride = 24

  /** Document chunking with overlap (q69): deterministic token-window
    * slices, one output row per chunk. Chunk i covers tokens
    * [i*stride, min(i*stride + window, n)); chunk count is
    * ceil(n / stride), so every token lands in at least one chunk and
    * consecutive chunks share (window - stride) tokens. Tail chunks
    * may be shorter than the window (the final one can even be fully
    * contained in its predecessor — kept, so the rule stays a pure
    * per-row formula both engines replay bit-identically).
    *
    * Scale: the explode fan-out is bounded by window/stride (~1.33x
    * corpus bytes here) and pipelines with the scan — no shuffle at
    * all until the sink; the orderBy exists only for the oracle's
    * deterministic dump and would be dropped in production. */
  val documentChunks: Q = (s, d) =>
    Tables.documents(s, d)
      // null text => no chunks (size(toks) = -1 would make
      // sequence(0, -1) descend and emit two spurious rows; the
      // DuckDB twin's range(0, ...) emits none)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), expr(s"(size(toks) + ${chunkStride - 1}) div $chunkStride - 1")),
          i => slice(col("toks"), i * chunkStride + 1, lit(chunkWindow))))
          .as(Seq("chunk_idx", "chunk_toks")))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk_toks")).as("n_chunk_tokens"),
        array_join(col("chunk_toks"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Per-source token budget for q70. Absolute, like real data-mix
    * budgets: slices below it are taken whole, slices above it are
    * truncated. */
  val tokenBudget = 800L

  /** Token-budget corpus selection (q70): cap each source's
    * contribution at [[tokenBudget]] tokens — the "give me at most N
    * tokens of source X" step when composing a training mix. Docs are
    * taken in doc_id order (deterministic FIFO; a production run
    * composes this with q66's quality score as the ORDER BY, best
    * docs first) and a doc is selected iff its INCLUSIVE running sum
    * still fits — prefix-truncate semantics, not greedy bin-fill, so
    * the selected set is a contiguous prefix and the decision is a
    * pure window expression.
    *
    * Scale: one shuffle on source for the window. A single
    * pathologically large source serializes its partition — the
    * two-phase sharded prefix sum (q55b, sequencePackingSharded) is
    * the drop-in remedy, parameterized by the same running sum. */
  val tokenBudgetSelection: Q = (s, d) => {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("selected", col("cum_tokens") <= tokenBudget)
      .orderBy(col("doc_id"))
  }

  /** Novel-bigram rate (q72): for every NON-train document, the
    * fraction of its bigram occurrences whose bigram never appears in
    * the train split — the cheap n-gram-LM novelty signal. Low rate
    * on an eval doc means its phrasing is largely covered by train
    * (fluent but possibly contaminated — q57b finds the verbatim
    * extreme); a rate near 1 means out-of-distribution or gibberish.
    * The exact-integer complement of a smoothed-LM perplexity: known
    * counts are ints and the single division comes last, so the score
    * is hash-stable across engines (the q63/q64 discipline — a log/
    * prob formulation would diverge on libm ulps and summation
    * order).
    *
    * Shape: bigrams are hashed to int64 BEFORE the explode (q62's
    * rule — shuffles carry (doc_id, long)); the train side collapses
    * to a DISTINCT hash set and the eval side left-joins it — all
    * id-only exchanges. The train set is a PERSISTED artifact
    * ([[TrainBigramStore]], VERDICT r5 #3): committed once per (JVM,
    * corpus content) via the [[ScratchStores]] lifecycle and appended
    * per ingest round in a real pipeline, so the steady-state cost is
    * O(eval) — only the eval side scans the corpus; the train side is
    * a parquet read of int64 hashes. */
  private[ops] def bigramPairs(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // r15 (the q62 rewrite, same argument): lambda-free bigram pairs —
    // arrays_zip of two slices + the two-argument xxhash64 replaces an
    // interpreted transform/array_join/string-hash per element. Hash
    // VALUES relabel within the same 2^-64 collision budget (tokens
    // are \s+-split, so the old " "-join was injective); they only
    // ever meet values hashed by THIS function (the train-set store is
    // per-JVM scratch), and the q72 outputs are bigram COUNTS,
    // invariant under the relabeling. Null text keeps its single
    // sentinel element via the coalesce (xxhash64 of an all-null
    // pair = the seed, exactly the old xxhash64(NULL)).
    val toks0 = TextAnalysis.tokens(text)
    val toks = coalesce(toks0, array(lit(null).cast("string")))
    val g = greatest(size(toks) - 1, lit(1))
    arrays_zip(slice(toks, lit(1), g), slice(toks, lit(2), g))
  }

  /** The hash of one exploded [[bigramHashes]] pair — consumers
    * explode the pair array and hash AFTER the explode, so no
    * higher-order function (CodegenFallback) ever runs. */
  private[ops] def bigramHashOf(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    xxhash64(p.getField("0"), p.getField("1"))

  /** Score every non-train doc against a GIVEN known-bigram set. */
  private def scoreNonTrain(docs: DataFrame, trainSet: DataFrame): DataFrame =
    docs.select(col("doc_id"), splitColumn(col("doc_id")).as("split"),
        explode(bigramPairs(col("text"))).as("_bp"))
      .select(col("doc_id"), col("split"), bigramHashOf(col("_bp")).as("bg"))
      .filter(col("split") =!= "train")
      .join(trainSet.withColumn("_known", lit(1L)), Seq("bg"), "left")
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_bigrams"),
        coalesce(sum(col("_known")), lit(0L)).as("n_known"))
      .withColumn("novel_rate",
        (col("n_bigrams") - col("n_known")).cast(DoubleType) / col("n_bigrams"))
      .orderBy(col("doc_id"))

  /** Inline (store-free) formulation — the algorithm-equivalence
    * anchor the spec compares the store-backed q72 against. */
  def novelBigramScores(docs: DataFrame): DataFrame = {
    val trainSet = docs.select(splitColumn(col("doc_id")).as("split"),
        explode(bigramPairs(col("text"))).as("_bp"))
      .filter(col("split") === "train")
      .select(bigramHashOf(col("_bp")).as("bg")).distinct()
    scoreNonTrain(docs, trainSet)
  }

  val novelBigramRate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    scoreNonTrain(docs, trainBigramStore(s, d).state())
  }

  // One stored train-bigram set per (JVM, corpus CONTENT) — round 0
  // holds ALL train docs' bigrams (q72 scores every eval doc, so no
  // watermark split here; a real pipeline appends per ingest round).
  // Caching, fingerprint, and reaping shared via [[ScratchStores]].
  private def trainBigramStore(s: SparkSession, d: String): TrainBigramStore = {
    val docs = Tables.documents(s, d)
    val (key, _) = ScratchStores.corpusKey(docs, d)
    val path = ScratchStores.pathFor(key, "graft-train-bigrams") { p =>
      new TrainBigramStore(s, p).appendRound(docs, round = 0L)
    }
    new TrainBigramStore(s, path)
  }

  /** Deterministic fixed-size stratified sample (q74): exactly
    * min(k, |stratum|) docs per source, chosen by ranking each
    * stratum on md5(doc_id || salt) — a content-independent,
    * re-run-stable "show me 5 docs from every source" (debugging,
    * data cards, eval sheets). Unlike q59's RATE-based thresholding
    * this is exact-COUNT sampling; the hash ordering makes it
    * uniform-in-expectation while keeping the whole selection a pure
    * window expression. One shuffle on source; a giant stratum
    * serializes its partition, remedied by pre-filtering on a hash
    * prefix before ranking (same trick as q59's threshold) — not
    * needed at bench scale. */
  val samplePerStratum = 5

  val stratifiedSample: Q = (s, d) => {
    val rk = md5(concat(col("doc_id").cast(StringType), lit(":sample-v1")))
    val w = Window.partitionBy(col("source")).orderBy(rk, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), rk.as("rank_key"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= samplePerStratum)
      .orderBy(col("source"), col("sample_rank"))
  }

  /** Metadata consistency audit (q75): does the stored `n_chars`
    * column actually equal length(text)? The schema-level validation
    * pass (V-family analog for the corpus): stored metadata drifts
    * from content whenever an upstream rewrite forgets to refresh
    * derived columns, and every budget keyed on the stale column
    * silently skews. Per-source mismatch accounting, one scan. */
  def metadataAuditOf(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        (coalesce(col("n_chars"), lit(-1L)) =!=
          coalesce(length(col("text")).cast(LongType), lit(-1L))).as("mismatch"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("mismatch"), 1L).otherwise(0L)).as("n_mismatched"))
      .orderBy(col("source"))

  val metadataAudit: Q = (s, d) => metadataAuditOf(Tables.documents(s, d))

  /** q123 — deterministic epoch shuffle + shard audit: the global
    * training-order permutation every epoch needs, spelled WITHOUT a
    * global sort. Order is the md5 of (doc_id, epoch seed) — a
    * pseudorandom but fully reproducible permutation key; the shard
    * is its first hex nibble (16 shards), so shard assignment and
    * within-shard order come from the SAME key and a training reader
    * streams shard files in key order to replay the exact
    * permutation. Reseeding by epoch re-deals both order and shard
    * membership — visible here as first_in_order and the shard
    * populations changing between the two audited epochs.
    *
    * Scale shape: the audit shuffles only (doc_id, n_chars) — never
    * text — and the per-(epoch, shard) rollup is one map-side-
    * combined hash agg onto 32 rows; the epoch dimension is an
    * explode on the scan, not a second scan. The materialization
    * path this audits would range-write by (shard, key): still no
    * global sort, just a 16-way hash partition + partition-local
    * sort — the permutation comes from the KEY, which is why the
    * md5-order trick beats orderBy(rand()) at 100 TB (rand is
    * neither reproducible nor partition-stable; a seeded global sort
    * is a full range exchange of the corpus). */
  val epochShuffle: Q = (s, d) => {
    Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      .withColumn("epoch", explode(array(lit("epoch-0"), lit("epoch-1"))))
      .withColumn("shuffle_key",
        md5(concat(col("doc_id").cast(StringType), lit(":"), col("epoch"))))
      .withColumn("shard", substring(col("shuffle_key"), 1, 1))
      .groupBy(col("epoch"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(concat(col("shuffle_key"), lit(":"),
          col("doc_id").cast(StringType))).as("first_in_order"))
      .orderBy(col("epoch"), col("shard"))
  }

  /** q168 — probability-proportional-to-size SYSTEMATIC sample
    * (Madow's method): walk the cumulative-weight axis and select a
    * document every W/k units, so a doc's selection multiplicity is
    *   (cum_i·k) div W − (cum_{i−1}·k) div W
    * — pure integer arithmetic, Σ multiplicity = k exactly by
    * telescoping, and "certainty units" (w ≥ W/k) are always taken,
    * possibly more than once. This is the curation primitive for
    * size-proportional data mixing (sample documents ∝ their token
    * mass), complementing q74's exact-COUNT stratified sample and
    * q70's budget CUTOFF: here big documents are favored by
    * construction, not truncated.
    *
    * Deterministic variant: the classic random start is dropped for
    * re-run stability (the house determinism doctrine) — a start
    * offset would be one broadcast literal if unbiasedness ever
    * mattered more than reproducibility. Scale shape: the cumulative
    * weight runs the [[graft.queries.Stats.rangeShards]] two-phase
    * prefix over the doc order; the multiplicity is per-row
    * arithmetic against broadcast offsets; cross terms ride
    * DECIMAL(38,0) (cum·k reaches ~10¹⁷ at 100 TB — inside int64,
    * but the decimal discipline costs nothing and never wraps). */
  val ppsSampleK = 100

  val ppsSample: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars").as("w"))
    val (ranged, shards) = graft.queries.Stats.rangeShards(docs, Seq(col("doc_id")),
      sum(col("w")).as("sm"))
    val (offDf, totals) = graft.queries.Stats.exclusiveOffsets(
      s, shards, Seq("_woff"), Seq(0L))
    val totalW = totals.head.asInstanceOf[Long]
    val wc = Window.partitionBy(col("_pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offDf), Seq("_pid"))
      .withColumn("cum", col("_woff") + sum(col("w")).over(wc))
      .withColumn("multiplicity",
        expr(s"CAST(CAST(cum AS DECIMAL(38,0)) * $ppsSampleK div ${totalW}L AS BIGINT)") -
          expr(s"CAST(CAST(cum - w AS DECIMAL(38,0)) * $ppsSampleK div ${totalW}L AS BIGINT)"))
      .filter(col("multiplicity") > 0)
      .select(col("doc_id"), col("w").as("weight"), col("cum").as("cum_weight"),
        col("multiplicity"))
      .orderBy(col("doc_id"))
  }

  /** q170 — Neyman (variance-optimal) sampling allocation: split a
    * fixed sample budget across strata proportional to N_h·σ_h — the
    * textbook allocation that minimizes the estimator's variance,
    * completing the sampling family (q74 allocates a CONSTANT per
    * stratum, q168 selects ∝ SIZE; this allocates ∝ size×spread, so
    * a noisy source earns more of the budget than an equally-big
    * uniform one). Exact integer end to end:
    *   N_h²·σ_h² = N_h·Σx² − (Σx)²   (population-variance identity,
    *                                  DECIMAL(38,0) moments)
    * so the Neyman weight N_h·σ_h is the EXACT integer square root of
    * that quantity (floored), and the budget splits by largest-
    * remainder rounding — base_h = (n·w_h) div W, the n − Σbase
    * leftovers to the largest remainders (source tiebreak) — which
    * telescopes to exactly n allocated, q168's discipline. A zero-
    * variance stratum earns weight 0 (one observation determines it);
    * an all-constant corpus (W = 0) falls back to size-proportional
    * weights so the budget still allocates.
    *
    * Scale shape: the moments are one map-combined exchange onto the
    * source domain; the allocation arithmetic runs DRIVER-SIDE over
    * the strata-domain-bounded moment table (the q83/q154 discipline
    * — ~tens of rows at any SF) with java.math.BigInteger.sqrt as the
    * exact isqrt. The DuckDB twin spells the SAME integers entirely
    * in SQL — HUGEINT moments, floor(sqrt(double)) clamped by ±1
    * correction arms (exact while N²σ² < 2^106: the double seed is
    * within one of the true root), a window for the remainder rank —
    * a genuinely different isqrt algorithm, so the hash match checks
    * the arithmetic, not a shared implementation. */
  val neymanBudget = 1000

  val neymanAllocation: Q = (s, d) => {
    val dec = DecimalType(38, 0)
    val strata = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast(dec)).as("sx"),
        sum(col("n_chars").cast(dec) * col("n_chars")).as("sxx"))
      .collect()
    val weighted = strata.map { r =>
      val n = r.getLong(1)
      val sx = BigInt(r.getDecimal(2).toBigInteger)
      val sxx = BigInt(r.getDecimal(3).toBigInteger)
      val v = BigInt(n) * sxx - sx * sx
      (r.getString(0), n, BigInt(v.bigInteger.sqrt()))
    }
    val sumW = weighted.map(_._3).sum
    val withW = // all-constant corpus: no variance signal anywhere —
      // fall back to size-proportional weights (documented above)
      if (sumW == 0) weighted.map { case (src, n, _) => (src, n, BigInt(n)) }
      else weighted
    val bigW = withW.map(_._3).sum
    val based = withW.map { case (src, n, w) =>
      val base = (w * neymanBudget / bigW).toLong
      val rem = w * neymanBudget - base * bigW
      (src, n, w, base, rem)
    }
    val leftovers = neymanBudget - based.map(_._4).sum
    val bonus = based.sortBy { case (src, _, _, _, rem) => (-rem, src) }
      .take(leftovers.toInt).map(_._1).toSet
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(based.sortBy(_._1).map { case (src, n, w, base, _) =>
        org.apache.spark.sql.Row(src, n, w.toLong,
          base + (if (bonus(src)) 1L else 0L))
      }: _*)
    s.createDataFrame(rows, StructType(Seq(
      StructField("source", StringType),
      StructField("n_docs", LongType),
      StructField("neyman_weight", LongType),
      StructField("alloc", LongType))))
  }

  val queries: Map[String, Q] = Map(
    "q170_neyman_allocation" -> neymanAllocation,
    "q168_pps_sample" -> ppsSample,
    "q123_epoch_shuffle" -> epochShuffle,
    "q69_document_chunks" -> documentChunks,
    "q70_token_budget_selection" -> tokenBudgetSelection,
    "q72_novel_bigram_rate" -> novelBigramRate,
    "q74_stratified_sample" -> stratifiedSample,
    "q75_metadata_audit" -> metadataAudit,
    "q59b_temperature_mixture" -> temperatureMixture,
    "q64_split_token_drift" -> splitTokenDrift,
    "q65_corpus_manifest" -> corpusManifest,
    "q55_sequence_packing" -> sequencePacking,
    "q55b_sequence_packing_sharded" -> ((s, d) => sequencePackingSharded(s, d)),
    "q56_dataset_split" -> datasetSplit,
    "q56b_split_stats" -> splitStats,
    "q57_split_contamination" -> splitContamination,
    "q57b_ngram_decontamination" -> ngramDecontamination,
    "q59_source_mixture" -> sourceMixture,
  )

  import TextAnalysis.sqlToks

  private[ops] def sqlSplit(idExpr: String = "doc_id", salt: String = "v1") =
    s"""CASE
       |    WHEN substr(md5(concat(CAST($idExpr AS VARCHAR), ':$salt')), 1, 1) BETWEEN '0' AND 'b' THEN 'train'
       |    WHEN substr(md5(concat(CAST($idExpr AS VARCHAR), ':$salt')), 1, 1) BETWEEN 'c' AND 'd' THEN 'val'
       |    ELSE 'test'
       |  END""".stripMargin

  /** The sequential-definition oracle, shared by q55 AND q55b: the
    * sharded two-phase prefix sum must hash-match the naive serial
    * running sum exactly. */
  private val sqlPacking =
    s"""SELECT doc_id, lang, source,
       |  CAST(len(${sqlToks("text")}) AS INTEGER) AS n_tokens,
       |  CAST(coalesce(sum(len(${sqlToks("text")})) OVER (
       |    PARTITION BY lang, source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before,
       |  CAST(floor(coalesce(sum(len(${sqlToks("text")})) OVER (
       |    PARTITION BY lang, source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / $packBudget) AS BIGINT) AS pack_id
       |FROM documents""".stripMargin

  /** DuckDB's spelling of [[shardColumn]] (strpos-based nibble value
    * instead of Spark's conv(,16,10) — same exact integer). */
  private def sqlShard(idExpr: String = "doc_id", nShards: Int = 8,
                       salt: String = "shard-v1") =
    s"CAST((strpos('0123456789abcdef', substr(md5(concat(CAST($idExpr AS VARCHAR), ':$salt')), 1, 1)) - 1) % $nShards AS INTEGER)"

  val oracle: Map[String, String] = Map(
    "q168_pps_sample" ->
      s"""WITH cumw AS (
         |  SELECT doc_id, n_chars AS w,
         |    sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(n_chars) OVER () AS tw
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, w, cum,
         |    CAST(CAST(cum AS HUGEINT) * $ppsSampleK // tw AS BIGINT)
         |      - CAST(CAST(cum - w AS HUGEINT) * $ppsSampleK // tw AS BIGINT)
         |      AS multiplicity
         |  FROM cumw
         |)
         |SELECT doc_id, w AS weight, CAST(cum AS BIGINT) AS cum_weight, multiplicity
         |FROM m WHERE multiplicity > 0 ORDER BY doc_id""".stripMargin,
    "q123_epoch_shuffle" ->
      """WITH keyed AS (
        |  SELECT e.epoch,
        |    md5(concat(CAST(doc_id AS VARCHAR), ':', e.epoch)) AS shuffle_key,
        |    doc_id, n_chars
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(['epoch-0', 'epoch-1']) AS epoch) e
        |)
        |SELECT epoch, substr(shuffle_key, 1, 1) AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(concat(shuffle_key, ':', CAST(doc_id AS VARCHAR))) AS first_in_order
        |FROM keyed GROUP BY 1, 2""".stripMargin,
    "q59b_temperature_mixture" ->
      s"""WITH counts AS (
         |  SELECT source, count(*) AS n_source FROM documents GROUP BY source
         |), c2 AS (
         |  SELECT source, n_source,
         |    CAST(floor(sqrt(CAST(n_source AS DOUBLE))) AS BIGINT) AS isqrt
         |  FROM counts
         |), totals AS (
         |  SELECT CAST(sum(n_source) AS BIGINT) AS n_total,
         |         CAST(sum(isqrt) AS BIGINT) AS tot_isqrt
         |  FROM c2
         |), rates AS (
         |  SELECT source, n_source,
         |    CAST((n_total * isqrt) // tot_isqrt AS BIGINT) AS target_n
         |  FROM c2, totals
         |), r2 AS (
         |  SELECT source, target_n,
         |    CAST(target_n // n_source AS BIGINT) AS n_base,
         |    CAST((256 * (target_n % n_source)) // n_source AS BIGINT) AS rem_buckets
         |  FROM rates
         |)
         |SELECT d.doc_id, d.source, r.target_n,
         |  CAST(r.n_base + CASE
         |    WHEN substr(md5(concat(CAST(d.doc_id AS VARCHAR), ':temp-v1')), 1, 2) <
         |         lpad(lower(to_hex(r.rem_buckets)), 2, '0')
         |    THEN 1 ELSE 0 END AS BIGINT) AS n_copies
         |FROM documents d JOIN r2 r USING (source)""".stripMargin,
    "q65_corpus_manifest" ->
      s"""WITH RECURSIVE ${Dedup.sqlBlockedPairs},
         |${Curation.sqlVerdictBody},
         |kept AS (SELECT doc_id FROM verdicts WHERE verdict = 'kept'),
         |enr AS (
         |  SELECT doc_id, ${sqlSplit()} AS split, ${sqlShard()} AS shard,
         |    CAST(len(${sqlToks("text")}) AS INTEGER) AS n_tokens,
         |    CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes
         |  FROM documents
         |)
         |SELECT split, shard, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM kept JOIN enr USING (doc_id)
         |GROUP BY split, shard""".stripMargin,
    "q64_split_token_drift" ->
      s"""WITH toks AS (
         |  SELECT ${sqlSplit()} AS split, unnest(${sqlToks("text")}) AS token
         |  FROM documents
         |), st AS (
         |  SELECT * FROM toks WHERE split IN ('train', 'val')
         |), counts AS (
         |  SELECT token,
         |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |    CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val
         |  FROM st GROUP BY token
         |), totals AS (
         |  SELECT CAST(sum(n_train) AS BIGINT) AS tot_train,
         |         CAST(sum(n_val) AS BIGINT) AS tot_val
         |  FROM counts
         |)
         |SELECT token, n_train, n_val,
         |  CAST(abs(n_train * tot_val - n_val * tot_train) AS BIGINT) AS drift_num,
         |  CAST(abs(n_train * tot_val - n_val * tot_train) AS DOUBLE) /
         |    (tot_train * tot_val) AS drift
         |FROM counts, totals
         |ORDER BY n_train DESC, token LIMIT 50""".stripMargin,
    "q69_document_chunks" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${sqlToks("text")} AS t FROM documents
         |), chunks AS (
         |  SELECT doc_id,
         |    unnest(range(0, (len(t) + ${chunkStride - 1}) // $chunkStride)) AS ci,
         |    unnest(list_transform(range(0, (len(t) + ${chunkStride - 1}) // $chunkStride),
         |      i -> t[i * $chunkStride + 1 : i * $chunkStride + $chunkWindow])) AS ct
         |  FROM toks
         |)
         |SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
         |  CAST(len(ct) AS INTEGER) AS n_chunk_tokens,
         |  array_to_string(ct, ' ') AS chunk_text
         |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin,
    "q170_neyman_allocation" ->
      s"""WITH m AS (
         |  SELECT source, count(*) AS n_docs,
         |    sum(CAST(n_chars AS HUGEINT)) AS sx,
         |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
         |  FROM documents GROUP BY 1
         |), v AS (
         |  SELECT source, n_docs, n_docs * sxx - sx * sx AS var2 FROM m
         |), f0 AS (  -- double sqrt seed, then clamp to the exact floor
         |  SELECT *, CAST(floor(sqrt(CAST(var2 AS DOUBLE))) AS HUGEINT) AS f FROM v
         |), fc AS (
         |  SELECT source, n_docs,
         |    CASE WHEN (f+1)*(f+1) <= var2 THEN f+1
         |         WHEN f*f > var2 THEN f-1 ELSE f END AS w0
         |  FROM f0
         |), wts AS (  -- all-constant fallback: size-proportional
         |  SELECT source, n_docs,
         |    CASE WHEN (SELECT sum(w0) FROM fc) = 0
         |         THEN CAST(n_docs AS HUGEINT) ELSE w0 END AS w
         |  FROM fc
         |), alloc AS (
         |  SELECT source, n_docs, w,
         |    (w * $neymanBudget) // (SELECT sum(w) FROM wts) AS base,
         |    (w * $neymanBudget) % (SELECT sum(w) FROM wts) AS rem
         |  FROM wts
         |), ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
         |    $neymanBudget - (SELECT sum(base) FROM alloc) AS leftovers
         |  FROM alloc
         |)
         |SELECT source, n_docs, CAST(w AS BIGINT) AS neyman_weight,
         |  CAST(base + CASE WHEN rk <= leftovers THEN 1 ELSE 0 END AS BIGINT) AS alloc
         |FROM ranked ORDER BY source""".stripMargin,
    "q74_stratified_sample" ->
      s"""SELECT doc_id, source, lang, rank_key, CAST(sample_rank AS INTEGER) AS sample_rank
         |FROM (
         |  SELECT doc_id, source, lang,
         |    md5(concat(CAST(doc_id AS VARCHAR), ':sample-v1')) AS rank_key,
         |    row_number() OVER (
         |      PARTITION BY source
         |      ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':sample-v1')), doc_id
         |    ) AS sample_rank
         |  FROM documents
         |)
         |WHERE sample_rank <= $samplePerStratum
         |ORDER BY source, sample_rank""".stripMargin,
    "q75_metadata_audit" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN coalesce(n_chars, -1) <>
         |    coalesce(CAST(length(text) AS BIGINT), -1) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_mismatched
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q72_novel_bigram_rate" ->
      s"""WITH bg AS (
         |  SELECT doc_id, ${sqlSplit()} AS split,
         |    unnest([array_to_string(list_slice(toks, i, i + 1), ' ')
         |      FOR i IN range(1, greatest(len(toks) - 1, 1) + 1)]) AS bg
         |  FROM (SELECT doc_id, ${sqlToks("text")} AS toks FROM documents)
         |), train AS (
         |  SELECT DISTINCT bg FROM bg WHERE split = 'train'
         |), ev AS (
         |  SELECT doc_id, split, bg.bg AS bg FROM bg WHERE split <> 'train'
         |)
         |SELECT e.doc_id, e.split,
         |  count(*) AS n_bigrams,
         |  CAST(sum(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_known,
         |  CAST(count(*) - sum(CASE WHEN t.bg IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS novel_rate
         |FROM ev e LEFT JOIN train t USING (bg)
         |GROUP BY e.doc_id, e.split
         |ORDER BY e.doc_id""".stripMargin,
    "q70_token_budget_selection" ->
      s"""SELECT doc_id, source, n_tokens,
         |  CAST(sum(n_tokens) OVER (
         |    PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
         |  CAST(sum(n_tokens) OVER (
         |    PARTITION BY source ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) <= $tokenBudget AS selected
         |FROM (
         |  SELECT doc_id, source, CAST(len(${sqlToks("text")}) AS INTEGER) AS n_tokens
         |  FROM documents
         |)
         |ORDER BY doc_id""".stripMargin,
    "q55_sequence_packing" -> sqlPacking,
    "q55b_sequence_packing_sharded" -> sqlPacking,
    "q56_dataset_split" ->
      s"""SELECT doc_id, lang, ${sqlSplit()} AS split FROM documents""".stripMargin,
    "q56b_split_stats" ->
      s"""SELECT ${sqlSplit()} AS split, lang,
         |  count(*) AS n_docs, CAST(sum(len(${sqlToks("text")})) AS BIGINT) AS sum_tokens
         |FROM documents GROUP BY 1, 2""".stripMargin,
    "q59_source_mixture" ->
      s"""WITH counts AS (
         |  SELECT source, count(*) AS n_source FROM documents GROUP BY source
         |), total AS (
         |  SELECT sum(n_source) AS n_total, count(*) AS n_sources FROM counts
         |), rates AS (
         |  SELECT source,
         |    CAST(least(256, (256 * n_total) // (n_sources * n_source)) AS BIGINT) AS keep_buckets
         |  FROM counts, total
         |)
         |SELECT d.doc_id, d.source, r.keep_buckets,
         |  (r.keep_buckets = 256 OR
         |   substr(md5(concat(CAST(d.doc_id AS VARCHAR), ':mix-v1')), 1, 2) <
         |     lpad(lower(to_hex(r.keep_buckets)), 2, '0')) AS sampled
         |FROM documents d JOIN rates r ON r.source = d.source""".stripMargin,
    "q57b_ngram_decontamination" ->
      s"""WITH sp AS (
         |  SELECT doc_id, ${sqlSplit()} AS split,
         |    list_distinct([array_to_string(list_slice(string_split_regex(lower(trim(text)), '\\s+'), i, i + ${decontaminationN - 1}), ' ')
         |      FOR i IN range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')) - ${decontaminationN - 1}, 1) + 1)]) AS grams
         |  FROM documents
         |), tg AS (
         |  SELECT DISTINCT unnest(grams) AS g FROM sp WHERE split = 'train'
         |), ev AS (
         |  SELECT doc_id, split, unnest(grams) AS g FROM sp WHERE split <> 'train'
         |)
         |SELECT ev.doc_id, ev.split, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS hit_rate,
         |  (sum(CASE WHEN tg.g IS NOT NULL THEN 1 ELSE 0 END) > 0) AS is_contaminated
         |FROM ev LEFT JOIN tg ON ev.g = tg.g
         |GROUP BY ev.doc_id, ev.split""".stripMargin,
    "q57_split_contamination" ->
      s"""WITH ${Dedup.sqlBlockedPairs},
         |strong AS (
         |  SELECT doc_a, doc_b, jaccard,
         |    ${sqlSplit("doc_a")} AS split_a,
         |    ${sqlSplit("doc_b")} AS split_b
         |  FROM pairs WHERE jaccard >= 0.5
         |),
         |flagged AS (
         |  SELECT doc_a AS eval_doc, split_a AS eval_split, doc_b AS train_doc, jaccard
         |  FROM strong WHERE split_a <> 'train' AND split_b = 'train'
         |  UNION ALL
         |  SELECT doc_b, split_b, doc_a, jaccard
         |  FROM strong WHERE split_b <> 'train' AND split_a = 'train'
         |)
         |SELECT eval_doc, eval_split, count(*) AS n_contaminators,
         |  max(jaccard) AS max_jaccard, min(train_doc) AS example_train_doc
         |FROM flagged GROUP BY eval_doc, eval_split""".stripMargin,
  )
}

/** The STORED half of novel-bigram scoring (q72, VERDICT r5 #3): a
  * persistent parquet artifact of the train split's DISTINCT bigram
  * hashes `(bg, ingest_round)`, appended once per ingest round with
  * the same dynamic-partition-overwrite idempotence as
  * [[NearDupIndexStore]] / [[BoilerplateStore]] (a retried round
  * replaces its own partial write). Read-side the rounds union to a
  * distinct set — set union is idempotent, so unlike the boilerplate
  * COUNTS no doc-disjointness argument is even needed: re-indexed
  * docs cannot corrupt the set.
  *
  * Scale: the artifact is one int64 per distinct train bigram per
  * round — a small fixed fraction of corpus bytes — and eval scoring
  * left-joins it on the hash, id-only both sides. Steady state per
  * round: O(delta) to append, O(eval) to score. */
class TrainBigramStore(spark: org.apache.spark.sql.SparkSession, path: String)
    extends RoundStore(spark, path, RoundStore.setUnion(col("bg"))) {

  /** Index `docs`' TRAIN rows and commit their distinct bigram hashes
    * as ingest round `round` — idempotent under retry. */
  def appendRound(docs: DataFrame, round: Long): Unit =
    commitRound(
      docs.select(Assembly.splitColumn(col("doc_id")).as("split"),
          explode(Assembly.bigramPairs(col("text"))).as("_bp"))
        .filter(col("split") === "train")
        .select(Assembly.bigramHashOf(col("_bp")).as("bg")).distinct(), round)
}
