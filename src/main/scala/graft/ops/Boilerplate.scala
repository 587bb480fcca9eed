package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Boilerplate removal — the corpus-frequency text-cleaning pass of a
  * training-data pipeline (the C4/MassiveText "remove lines that
  * repeat across many pages" step): a text UNIT that occurs in many
  * distinct documents is template chrome (headers, footers, cookie
  * banners, license stanzas), not content, and is cut from every
  * document while the surrounding text is kept in order.
  *
  * The unit here is a fixed-width token BLOCK (non-overlapping
  * windows of [[blockTokens]] tokens) rather than a newline-delimited
  * line — the testdata corpus is flat word-bag text with no line
  * structure, and fixed-width block hashing is also how the pass is
  * run at scale when source formatting is unreliable (block-level
  * dedup). The algorithm is delimiter-agnostic: swap the block
  * builder for `split(text, '\n')` and nothing else changes.
  *
  * Scale shape (the pass is two corpus passes by nature — one to
  * count, one to cut):
  *   - Block frequencies: explode → hash agg keyed on the block's
  *     xxhash64 (the shuffle carries (bhash, doc_id) ids, never block
  *     strings; the same 2^-64 collision approximation as every other
  *     hashed-grouping tier here).
  *   - The cut: re-derive the block view and hash-join it to the
  *     (small relative to corpus) frequency table on bhash, then one
  *     groupBy(doc_id) rebuilds each document positionally. Document
  *     reconstruction is the one shuffle that must carry text — it IS
  *     the output.
  *   - No driver-side state, no caching requirement: each pass
  *     streams. A production run would persist the frequency table as
  *     an artifact (like [[NearDupIndexStore]]) and reuse it across
  *     ingest rounds.
  */
object Boilerplate {
  type Q = (SparkSession, String) => DataFrame

  /** Tokens per block. 8 is small enough that planted near-dup
    * families share whole blocks, large enough that cross-doc chance
    * collisions of independent text are negligible. */
  val blockTokens = 8

  /** A block occurring in at least this many DISTINCT docs is
    * boilerplate. 2 = "any repeated block is template", the most
    * aggressive setting; production corpora use higher. */
  val minDocs = 2

  /** (doc_id, pos, block): the non-overlapping block view of the
    * corpus. Token array becomes an attribute before the lambda
    * consumes it (expression-in-lambda re-evaluates per element).
    * Null-text docs emit NO blocks: without the filter, size(toks)
    * is -1 (ANSI off) and sequence(0, -1) is the DESCENDING [0, -1]
    * — two spurious null-block rows the DuckDB twin (range(0, ...))
    * never produces. */
  private def blockView(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), expr(s"(size(toks) + ${blockTokens - 1}) div $blockTokens - 1")),
          i => array_join(slice(col("toks"), i * blockTokens + 1, lit(blockTokens)), " ")))
          .as(Seq("pos", "block")))

  private[ops] def hashedBlockView(docs: DataFrame): DataFrame =
    blockView(docs).withColumn("bhash", xxhash64(col("block")))

  /** Distinct-doc frequency per block hash — the artifact
    * [[BoilerplateStore]] persists per ingest round. */
  private[ops] def blockFreqs(docs: DataFrame): DataFrame =
    hashedBlockView(docs).groupBy(col("bhash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))

  /** The cut pass against a GIVEN frequency table (inline-computed
    * for the batch form, stored+combined for the incremental form). */
  private[ops] def cutWithFreqs(withHash: DataFrame, freqs: DataFrame,
                                minDocs: Int): DataFrame = {
    val keepStruct = when(col("n_docs") < minDocs,
      struct(col("pos"), col("block")))
    withHash.join(freqs, Seq("bhash"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("n_docs") >= minDocs, 1L).otherwise(0L)).as("n_removed"),
        concat_ws(" ",
          transform(array_sort(collect_list(keepStruct)), s => s.getField("block")))
          .as("cleaned_text"))
  }

  /** Per-document boilerplate cut: every block occurring in >=
    * `minDocs` distinct documents is removed; `cleaned_text` is the
    * surviving blocks re-joined in position order (empty string when
    * nothing survives — the all-template document). */
  def removeBoilerplate(docs: DataFrame, minDocs: Int = minDocs): DataFrame =
    cutWithFreqs(hashedBlockView(docs), blockFreqs(docs), minDocs)

  /** q67: the cleaned corpus, one row per document. */
  val boilerplateRemoval: Q = (s, d) =>
    removeBoilerplate(Tables.documents(s, d)).orderBy(col("doc_id"))

  /** q67b: the template blocks themselves, widest-spread first — the
    * audit view a curator reads before trusting the cut.
    *
    * Plan shape (the exchanges carry ids, never corpus text):
    *   1. frequency table keyed on bhash — the same id-only hash agg
    *      as q67's count pass ((bhash, doc_id) through the shuffle).
    *   2. boundary threshold: the k-th largest n_docs, found by a
    *      TakeOrdered over id rows. Every row of the TRUE top-k under
    *      the (n_docs DESC, block ASC) output order has n_docs >= that
    *      threshold, so filtering to it yields an exact superset
    *      (~k rows + boundary ties) independent of string order.
    *   3. strings for just that superset: re-scan the corpus under a
    *      BROADCAST semi-join on the candidate hashes (the corpus side
    *      never shuffles; first() map-side-combines to <= |candidates|
    *      rows per partition before its exchange).
    * Two corpus scans instead of one, but the only strings that ever
    * cross an exchange are the <= k + ties winners. */
  val boilerplateTop: Q = (s, d) => {
    val k = 20
    // materialized (two-consumer rule): two subtrees below
    val f = Dedup.materializedSketch(
      hashedBlockView(Tables.documents(s, d))
        .groupBy(col("bhash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .filter(col("n_docs") >= minDocs))
    val thr = f.orderBy(col("n_docs").desc).limit(k)
      .agg(min(col("n_docs")).as("thr"))
    val cand = f.join(broadcast(thr), col("n_docs") >= col("thr")).drop("thr")
    val strings = hashedBlockView(Tables.documents(s, d))
      .join(broadcast(cand.select(col("bhash"))), Seq("bhash"))
      .groupBy(col("bhash")).agg(first(col("block")).as("block"))
    cand.join(strings, Seq("bhash"))
      .select(col("block"), col("n_docs"), col("n_occurrences"))
      .orderBy(col("n_docs").desc, col("block"))
      .limit(k)
  }

  /** Cut quality as DATA (q67d, VERDICT r5 #1) — the q34c pattern
    * applied to boilerplate removal: plant template families with
    * KNOWN extent, run the cut on the augmented corpus, and record
    * per-family recall (planted template blocks actually removed) and
    * over-cut (planted content blocks wrongly removed) every round,
    * so a plan change that degrades the cut surfaces as a changed
    * number in the correctness gate, not as a silently passing spec.
    *
    * The plant is pure column arithmetic, so both engines replay it
    * bit-identically and the row sits under a FULL DuckDB oracle:
    * every corpus doc with doc_id % 41 == 0 seeds one planted doc
    * (id offset by 10^7, clear of real ids) whose text is one of
    * three family TEMPLATE blocks (8 synthetic tokens carrying the
    * family number — shared across the family, so its corpus
    * frequency is the family size >= minDocs => truth: must be cut)
    * followed by 16 FILLER tokens salted with the planted doc's own
    * id (two globally-unique blocks => truth: must survive). Healthy
    * output is recall 1.0 / over-cut 0.0 per family — the operator is
    * exact, so any other number is a cut regression (hash collision
    * handling, null semantics, positional rebuild).
    *
    * Scale: the plant is a filter + projection riding the corpus
    * scan (~2.4% extra rows); the audit join broadcasts the planted
    * id->family map. */
  val boilerplateRecall: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val sampled = docs.filter(pmod(col("doc_id"), lit(41)) === 0)
      .select(col("doc_id"), pmod(expr("doc_id div 41"), lit(3)).as("family"))
    val template = array_join(transform(sequence(lit(0), lit(blockTokens - 1)),
      i => concat(lit("q67dtpl"), col("family"), lit("x"), i)), " ")
    val filler = array_join(transform(sequence(lit(0), lit(2 * blockTokens - 1)),
      i => concat(lit("q67dfill"), col("doc_id"), lit("x"), i)), " ")
    val planted = sampled.select((col("doc_id") + 10000000L).as("doc_id"),
      concat(template, lit(" "), filler).as("text"), col("family"))
    val cut = removeBoilerplate(docs.unionByName(planted.drop("family")))
    cut.join(broadcast(planted.select(col("doc_id"), col("family"))), Seq("doc_id"))
      .select(col("family"),
        when(instr(col("cleaned_text"), "q67dtpl") === 0, 1L).otherwise(0L).as("tpl_cut"),
        col("n_removed"))
      .groupBy(col("family"))
      .agg(count(lit(1)).as("n_planted"),
        sum(col("tpl_cut")).as("n_template_cut"),
        sum(col("n_removed") - col("tpl_cut")).as("n_filler_cut"))
      .withColumn("template_recall",
        round(col("n_template_cut").cast("double") / col("n_planted"), 6))
      .withColumn("overcut_rate",
        round(col("n_filler_cut").cast("double") / (col("n_planted") * 2), 6))
      .orderBy(col("family"))
  }

  /** Incremental boilerplate cut (q67c): clean an ingest DELTA
    * against the standing corpus — the operating mode where the
    * block-frequency table is a maintained artifact, not a per-run
    * recomputation. The standing corpus's frequencies come from a
    * [[BoilerplateStore]] (committed as round 0 the first time a
    * corpus is seen, exactly the [[Dedup.ngramJaccardIncremental]]
    * lifecycle); only the delta is block-scanned, and its own
    * frequencies are summed onto the stored ones — additive because
    * ingest rounds are doc-disjoint, so combined counts equal the
    * full-corpus counts and the whole operator (watermark split
    * included) sits under the q67 oracle restricted to delta rows.
    * Steady-state cost: O(delta) scan + a join against the stored
    * table. */
  val boilerplateIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val (store, wm) = incrementalStore(s, d)
    store.cutDelta(docs.filter(col("doc_id") > wm))
      .orderBy(col("doc_id"))
  }

  // One stored frequency table per (JVM, corpus CONTENT) — caching,
  // fingerprint, and reaping shared with the near-dup index via
  // [[ScratchStores]].
  private def incrementalStore(s: SparkSession, d: String): (BoilerplateStore, Long) = {
    val docs = Tables.documents(s, d)
    val (key, wm) = ScratchStores.corpusKey(docs, d)
    val path = ScratchStores.pathFor(key, "graft-boilerplate-freqs") { p =>
      new BoilerplateStore(s, p).appendRound(
        docs.filter(col("doc_id") <= wm), round = 0L)
    }
    (new BoilerplateStore(s, path), wm)
  }

  val queries: Map[String, Q] = Map(
    "q67_boilerplate_removal" -> boilerplateRemoval,
    "q67b_boilerplate_top" -> boilerplateTop,
    "q67c_boilerplate_incremental" -> boilerplateIncremental,
    "q67d_boilerplate_recall" -> boilerplateRecall,
  )

  import TextAnalysis.sqlToks

  // DuckDB replays blocks via zipped unnest (range + list_transform
  // align positionally) and groups on the block STRING — equivalent
  // to the Spark side's hashed grouping modulo xxhash64 collisions.
  private def sqlBlocksFrom(rel: String) =
    s"""SELECT doc_id,
       |    unnest(range(0, (len(t) + ${blockTokens - 1}) // $blockTokens)) AS pos,
       |    unnest(list_transform(range(0, (len(t) + ${blockTokens - 1}) // $blockTokens),
       |      i -> array_to_string(t[i * $blockTokens + 1 : i * $blockTokens + $blockTokens], ' '))) AS block
       |  FROM (SELECT doc_id, ${sqlToks("text")} AS t FROM $rel)""".stripMargin

  private def sqlBlocks = sqlBlocksFrom("documents")

  val oracle: Map[String, String] = Map(
    "q67_boilerplate_removal" ->
      s"""WITH blocks AS (
         |  $sqlBlocks
         |), freqs AS (
         |  SELECT block, count(DISTINCT doc_id) AS n_docs FROM blocks GROUP BY block
         |)
         |SELECT b.doc_id,
         |  count(*) AS n_blocks,
         |  CAST(sum(CASE WHEN f.n_docs >= $minDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  coalesce(string_agg(CASE WHEN f.n_docs < $minDocs THEN b.block END, ' ' ORDER BY b.pos), '') AS cleaned_text
         |FROM blocks b JOIN freqs f USING (block)
         |GROUP BY b.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    "q67b_boilerplate_top" ->
      s"""WITH blocks AS (
         |  $sqlBlocks
         |)
         |SELECT block, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
         |FROM blocks GROUP BY block
         |HAVING count(DISTINCT doc_id) >= $minDocs
         |ORDER BY n_docs DESC, block LIMIT 20""".stripMargin,
    // same deterministic plant (pure integer/string arithmetic), same
    // cut definition as q67, rolled up per family — NOTE the filler
    // salt is the ORIGINAL doc_id (the Spark projection builds filler
    // before the id offset is applied)
    "q67d_boilerplate_recall" ->
      s"""WITH planted AS (
         |  SELECT doc_id + 10000000 AS doc_id,
         |    (doc_id // 41) % 3 AS family,
         |    array_to_string(list_transform(range(0, $blockTokens), i ->
         |      'q67dtpl' || CAST((doc_id // 41) % 3 AS VARCHAR) || 'x' || CAST(i AS VARCHAR)), ' ')
         |    || ' ' ||
         |    array_to_string(list_transform(range(0, ${2 * blockTokens}), i ->
         |      'q67dfill' || CAST(doc_id AS VARCHAR) || 'x' || CAST(i AS VARCHAR)), ' ') AS text
         |  FROM documents WHERE doc_id % 41 = 0
         |), aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id, text FROM planted
         |), blocks AS (
         |  ${sqlBlocksFrom("aug")}
         |), freqs AS (
         |  SELECT block, count(DISTINCT doc_id) AS n_docs FROM blocks GROUP BY block
         |), cutout AS (
         |  SELECT b.doc_id,
         |    CAST(sum(CASE WHEN f.n_docs >= $minDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |    coalesce(string_agg(CASE WHEN f.n_docs < $minDocs THEN b.block END, ' ' ORDER BY b.pos), '') AS cleaned_text
         |  FROM blocks b JOIN freqs f USING (block)
         |  GROUP BY b.doc_id
         |), audit AS (
         |  SELECT p.family,
         |    CASE WHEN instr(c.cleaned_text, 'q67dtpl') = 0 THEN 1 ELSE 0 END AS tpl_cut,
         |    c.n_removed
         |  FROM cutout c JOIN planted p USING (doc_id)
         |)
         |SELECT family, count(*) AS n_planted,
         |  CAST(sum(tpl_cut) AS BIGINT) AS n_template_cut,
         |  CAST(sum(n_removed - tpl_cut) AS BIGINT) AS n_filler_cut,
         |  round(CAST(sum(tpl_cut) AS DOUBLE) / count(*), 6) AS template_recall,
         |  round(CAST(sum(n_removed - tpl_cut) AS DOUBLE) / (count(*) * 2), 6) AS overcut_rate
         |FROM audit GROUP BY family ORDER BY family""".stripMargin,
    // stored-counts + delta-counts == full-corpus counts (rounds are
    // doc-disjoint), so the incremental cut is exactly the batch cut
    // restricted to delta rows — same SQL, watermark filter added
    "q67c_boilerplate_incremental" ->
      s"""WITH blocks AS (
         |  $sqlBlocks
         |), freqs AS (
         |  SELECT block, count(DISTINCT doc_id) AS n_docs FROM blocks GROUP BY block
         |), w AS (SELECT (max(doc_id) * 4) // 5 AS wm FROM documents)
         |SELECT b.doc_id,
         |  count(*) AS n_blocks,
         |  CAST(sum(CASE WHEN f.n_docs >= $minDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  coalesce(string_agg(CASE WHEN f.n_docs < $minDocs THEN b.block END, ' ' ORDER BY b.pos), '') AS cleaned_text
         |FROM blocks b JOIN freqs f USING (block), w
         |WHERE b.doc_id > w.wm
         |GROUP BY b.doc_id
         |ORDER BY b.doc_id""".stripMargin,
  )
}

/** The STORED half of incremental boilerplate removal: a persistent
  * parquet artifact of per-round block frequencies
  * `(bhash, n_docs, ingest_round)`, appended once per ingest round
  * (dynamic partition overwrite — a retried round replaces its own
  * partial write) and SUMMED across rounds at read time. Distinct-doc
  * counts are additive across rounds because each document belongs to
  * exactly one ingest round — the same disjointness the fact sink's
  * `ingest_batch` layout guarantees. Mirrors [[NearDupIndexStore]]'s
  * lifecycle; compaction of old rounds into one partition is a pure
  * layout optimization (counts re-aggregate identically).
  *
  * Scale: the artifact holds one (int64, int64) row per distinct
  * block per round — a small fixed fraction of corpus bytes — and the
  * delta cut reads it once, joined on the delta's own block hashes. */
class BoilerplateStore(spark: org.apache.spark.sql.SparkSession, path: String)
    extends RoundStore(spark, path,
      // distinct-doc counts are additive across doc-disjoint rounds
      // (and >= 1, so the zero filter never fires)
      RoundStore.signedSum(Seq("bhash"), Seq("n_docs"))) {

  /** Count `docs`' blocks and commit them as ingest round `round` —
    * idempotent under retry (partition overwrite). */
  def appendRound(docs: DataFrame, round: Long): Unit =
    commitRound(
      Boilerplate.blockFreqs(docs.select(col("doc_id"), col("text"))), round)

  /** Cut an ingest DELTA against standing + delta frequencies: the
    * delta is block-scanned once (it is the data in hand); the
    * standing corpus contributes ONLY its stored counts. */
  def cutDelta(delta: DataFrame,
               minDocs: Int = Boilerplate.minDocs,
               beforeRound: Option[Long] = None): DataFrame = {
    val withHash = Boilerplate.hashedBlockView(
      delta.select(col("doc_id"), col("text")))
    val combined = merge(state(beforeRound)
      .unionByName(Boilerplate.blockFreqs(delta.select(col("doc_id"), col("text")))))
    Boilerplate.cutWithFreqs(withHash, combined, minDocs)
  }
}
