package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class AssemblySpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("document chunks: exact geometry on a synthetic doc") {
    // 50 tokens t00..t49, window 32, stride 24 -> ceil(50/24) = 3 chunks:
    // [0,32), [24,50), [48,50)
    val words = (0 until 50).map(i => f"t$i%02d")
    val docs = Seq((7L, words.mkString(" "))).toDF("doc_id", "text")
    // documentChunks reads Tables.documents(s, d); drive the core by
    // replaying its expression chain on the synthetic frame instead
    val out = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), expr(s"(size(toks) + ${Assembly.chunkStride - 1}) div ${Assembly.chunkStride} - 1")),
          i => slice(col("toks"), i * Assembly.chunkStride + 1, lit(Assembly.chunkWindow))))
          .as(Seq("chunk_idx", "chunk_toks")))
      .select(col("chunk_idx"), col("chunk_toks"))
      .orderBy(col("chunk_idx")).collect()
    assert(out.length == 3)
    assert(out(0).getSeq[String](1) == words.slice(0, 32))
    assert(out(1).getSeq[String](1) == words.slice(24, 50))
    assert(out(2).getSeq[String](1) == words.slice(48, 50))
  }

  test("document chunks: per-doc count and size formulas hold corpus-wide") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).as("n"))
    val chunks = Assembly.documentChunks(spark, sf)
    val perDoc = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), max(col("chunk_idx")).as("max_idx"))
      .join(docs, Seq("doc_id"))
    // ceil(n / stride) chunks, contiguous indexes
    assert(perDoc.filter(
      col("n_chunks") =!= expr(s"(n + ${Assembly.chunkStride - 1}) div ${Assembly.chunkStride}")
    ).count() == 0)
    assert(perDoc.filter(col("max_idx") =!= col("n_chunks") - 1).count() == 0)
    // chunk i holds min(window, n - i*stride) tokens
    val sized = chunks.join(docs, Seq("doc_id"))
    assert(sized.filter(col("n_chunk_tokens") =!=
      least(lit(Assembly.chunkWindow),
        col("n") - col("chunk_idx") * Assembly.chunkStride)).count() == 0)
  }

  test("q72 train-bigram store: rounds union as a set and a retried round replaces its partition") {
    val path = tmpDir("bigram-store") + "/bg"
    val r0 = Seq((8L, "alpha beta gamma"), (16L, "beta gamma delta"))
      .toDF("doc_id", "text") // ids chosen in the train split
    val r1 = Seq((24L, "alpha beta epsilon")).toDF("doc_id", "text")
    val store = new TrainBigramStore(spark, path)
    store.appendRound(r0, 0L)
    store.appendRound(r1, 1L)
    val direct = r0.unionByName(r1)
      .select(Assembly.splitColumn(col("doc_id")).as("split"),
        explode(Assembly.bigramPairs(col("text"))).as("_bp"))
      .filter(col("split") === "train")
      .select(Assembly.bigramHashOf(col("_bp")).as("bg"))
      .distinct().as[Long].collect().toSet
    assert(direct.nonEmpty, "fixture ids must land in the train split")
    def known = store.state().as[Long].collect().toSet
    assert(known == direct, "summed round sets differ from the batch set")
    store.appendRound(r1, 1L) // re-delivered round
    assert(known == direct, "retried round corrupted the set")
  }

  test("q72 store-backed result equals the inline recompute formulation") {
    val docs = graft.Tables.documents(spark, sf)
    val inline = Assembly.novelBigramScores(docs).collect().map(_.toSeq)
    val stored = Assembly.novelBigramRate(spark, sf).collect().map(_.toSeq)
    assert(stored.length == inline.length && stored.sameElements(inline),
      "store-backed q72 diverges from the inline definition")
  }

  test("q72 steady-state plan scans eval docs + the stored set only (VERDICT r5 #3)") {
    Assembly.novelBigramRate(spark, sf).collect() // warm: store committed
    val plan = Assembly.novelBigramRate(spark, sf) // steady-state invocation
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    var scans = List.empty[String]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case r: ReusedExchangeExec    => walk(r.child)
      case s: FileSourceScanExec =>
        scans ::= s.relation.location.rootPaths.map(_.toString).mkString(",")
      case other => other.children.foreach(walk)
    }
    walk(plan.queryExecution.executedPlan)
    assert(scans.count(_.contains("documents.parquet")) == 1,
      s"train side re-scanned the corpus instead of the stored set: $scans")
    assert(scans.exists(_.contains("graft-train-bigrams")),
      s"stored train-bigram set not in the plan: $scans")
  }

  test("document chunks: null-text docs emit no chunks (ADVICE r5)") {
    // without the isNotNull guard, size(toks) = -1 makes sequence(0, -1)
    // the descending [0, -1] — two spurious rows with null chunk_text
    val dir = tmpDir("chunks-null")
    Seq((1L, "alpha beta gamma"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val out = Assembly.documentChunks(spark, dir)
    assert(out.filter(col("doc_id") === 2L).count() == 0)
    assert(out.count() == 1)
    assert(out.filter(col("chunk_text").isNull).count() == 0)
  }

  test("token-budget selection is a per-source prefix that fits the budget") {
    val rows = Assembly.tokenBudgetSelection(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("n_tokens"), r.getAs[Long]("cum_tokens"),
        r.getAs[Boolean]("selected")))
    assert(rows.exists(_._5) && rows.exists(!_._5), "budget never bites or selects nothing")
    rows.groupBy(_._1).foreach { case (src, docs) =>
      val ordered = docs.sortBy(_._2)
      // running sum is exact and inclusive
      var cum = 0L
      ordered.foreach { case (_, _, n, c, sel) =>
        cum += n
        assert(c == cum, s"$src cum mismatch")
        assert(sel == (cum <= Assembly.tokenBudget))
      }
      // selection is a contiguous prefix: once false, always false
      val flags = ordered.map(_._5)
      assert(!flags.dropWhile(identity).contains(true), s"$src selection not a prefix")
      // the selected prefix fits; adding the first rejected doc would not
      val kept = ordered.filter(_._5)
      assert(kept.map(_._3.toLong).sum <= Assembly.tokenBudget)
      ordered.drop(kept.length).headOption.foreach { first =>
        assert(kept.map(_._3.toLong).sum + first._3 > Assembly.tokenBudget)
      }
    }
  }

  test("novel-bigram rate: copied eval text scores 0, invented text scores 1") {
    // find concrete train and non-train ids under the real split hash
    val ids = (0L until 64L).toDF("doc_id")
      .select(col("doc_id"), Assembly.splitColumn(col("doc_id")).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val trainId = ids.collectFirst { case (i, "train") => i }.get
    val evalIds = ids.collect { case (i, s) if s != "train" => i }.take(3)
    val trainText = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      trainId -> trainText,
      evalIds(0) -> trainText, // verbatim copy: nothing novel
      evalIds(1) -> "zyx wvu tsr qpo nml kji", // all invented: fully novel
      evalIds(2) -> s"the quick brown fox eats zyx" // mixed
    ).toDF("doc_id", "text")
    val out = Assembly.novelBigramScores(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_known"),
          r.getAs[Double]("novel_rate"))).toMap
    assert(!out.contains(trainId), "train docs must not be scored")
    assert(out(evalIds(0)) == ((8L, 8L, 0.0)))
    assert(out(evalIds(1))._3 == 1.0)
    // mixed: bigrams = (the,quick)(quick,brown)(brown,fox)(fox,eats)(eats,zyx)
    // -> 3 known of 5
    assert(out(evalIds(2)) == ((5L, 3L, 0.4)))
  }

  test("stratified sample: exact count per stratum, deterministic, rank-contiguous") {
    val a = Assembly.stratifiedSample(spark, sf).collect()
    val b = Assembly.stratifiedSample(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, "sample not re-run-stable")
    val strata = graft.Tables.documents(spark, sf)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySrc = a.groupBy(_.getAs[String]("source"))
    assert(bySrc.keySet == strata.keySet)
    bySrc.foreach { case (src, rows) =>
      assert(rows.length == math.min(Assembly.samplePerStratum.toLong, strata(src)))
      assert(rows.map(_.getAs[Int]("sample_rank")).sorted.toSeq == (1 to rows.length))
    }
  }

  test("metadata audit flags planted n_chars drift and nothing else") {
    val docs = Seq(
      (1L, "four little words here", "s0", 22L),  // consistent
      (2L, "drifted metadata row", "s0", 999L),   // planted drift
      (3L, "exact chars again ok", "s1", 20L)     // consistent
    ).toDF("doc_id", "text", "source", "n_chars")
    val out = Assembly.metadataAuditOf(docs).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_mismatched"))).toMap
    assert(out("s0") == ((2L, 1L)))
    assert(out("s1") == ((1L, 0L)))
  }

  test("dataset split is deterministic, id-keyed, and roughly 75/12.5/12.5") {
    val a = Assembly.datasetSplit(spark, sf).collect()
    val b = Assembly.datasetSplit(spark, sf).collect()
    assert(a.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      b.map(r => (r.getLong(0), r.getString(2))).toSeq)
    val byrSplit = a.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    val n = a.length.toDouble
    assert(byrSplit.keySet == Set("train", "val", "test"))
    // md5 nibbles are uniform: generous bounds for a small corpus
    assert(byrSplit("train") / n > 0.6 && byrSplit("train") / n < 0.9)
    assert(byrSplit("val") / n > 0.04 && byrSplit("test") / n > 0.04)
    // changing the salt re-deals the split (versioning works)
    val resalted = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), Assembly.splitColumn(col("doc_id"), salt = "v2").as("split"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val orig = a.map(r => (r.getLong(0), r.getString(2))).toMap
    assert(orig.exists { case (id, s) => resalted(id) != s })
  }

  test("sharded two-phase prefix sum equals the serial running sum exactly") {
    val serial = Assembly.sequencePacking(spark, sf).collect().toSeq
    // a shard count that does NOT divide the corpus evenly, to
    // exercise ragged shard boundaries
    val sharded = Assembly.sequencePackingSharded(spark, sf, nShards = 7)
      .collect().toSeq
    assert(sharded == serial)
    // the heavy window really is shard-parallel
    val plan = Assembly.sequencePackingSharded(spark, sf, nShards = 7)
      .queryExecution.executedPlan.toString
    assert(plan.contains("shard"), s"shard key missing from plan:\n$plan")
  }

  test("split contamination flags only eval docs with a train-side near-dup") {
    val rows = Assembly.splitContamination(spark, sf).collect()
    val splits = Assembly.datasetSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    rows.foreach { r =>
      val (evalDoc, evalSplit) = (r.getLong(0), r.getString(1))
      assert(splits(evalDoc) == evalSplit && evalSplit != "train")
      assert(splits(r.getAs[Long]("example_train_doc")) == "train")
      assert(r.getAs[Double]("max_jaccard") >= 0.5)
    }
    // cross-check against the raw pair graph: every >= 0.5 pair that
    // straddles train and eval must be represented
    val pairs = Dedup.ngramJaccardBlocked(spark, sf)
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs.flatMap { case (a, b) =>
      (splits(a), splits(b)) match {
        case ("train", sb) if sb != "train" => Some(b)
        case (sa, "train") if sa != "train" => Some(a)
        case _ => None
      }
    }.toSet
    assert(rows.map(_.getLong(0)).toSet == expected)
  }

  test("source mixture downsamples toward uniform and is deterministic") {
    val rows = Assembly.sourceMixture(spark, sf).collect()
    val again = Assembly.sourceMixture(spark, sf).collect()
    assert(rows.map(r => (r.getLong(0), r.getBoolean(3))).toSeq ==
      again.map(r => (r.getLong(0), r.getBoolean(3))).toSeq)
    val bySource = rows.groupBy(_.getString(1))
    val total = rows.length
    val targetN = total.toDouble / bySource.size
    bySource.foreach { case (src, rs) =>
      val buckets = rs.head.getLong(2)
      // exact integer threshold: (256 * total) div (K * n_source), capped
      val expected = math.min(256L, 256L * total / (bySource.size.toLong * rs.length))
      assert(buckets == expected, s"$src: keep_buckets $buckets != $expected")
      val sampled = rs.count(_.getBoolean(3))
      // an UNDER-represented source keeps everything; an over-represented
      // one lands near its target (md5 bytes are uniform; generous bounds)
      if (rs.length <= targetN) assert(sampled == rs.length)
      else assert(math.abs(sampled - targetN) < targetN * 0.5,
        s"$src: sampled $sampled vs target ~$targetN")
    }
  }

  test("mixture thresholds with hex-letter buckets sample correctly on skewed sources") {
    import spark.implicits._
    // 300 'big' docs vs 50 'small': keep_buckets(big) =
    // (256*350) div (2*300) = 149 (0x95 — exercises a letter nibble
    // in the hex comparison, which balanced fixtures never do)
    val docs = ((0L until 300L).map(i => (i, "big")) ++
      (1000L until 1050L).map(i => (i, "small"))).toDF("doc_id", "source")
    val rows = Assembly.mixtureOf(docs).collect()
    val bySource = rows.groupBy(_.getString(1))
    assert(bySource("small").forall(_.getBoolean(3)), "under-represented keeps all")
    val bigBuckets = bySource("big").head.getLong(2)
    assert(bigBuckets == 256L * 350 / (2 * 300), s"got $bigBuckets")
    val sampled = bySource("big").count(_.getBoolean(3))
    val expectedRate = bigBuckets / 256.0
    assert(math.abs(sampled - 300 * expectedRate) < 300 * expectedRate * 0.35,
      s"sampled $sampled of 300 at rate $expectedRate")
  }

  test("temperature mixture flattens skew: big source down, rare source up") {
    import spark.implicits._
    // isqrt(400)=20, isqrt(25)=5 -> targets 340 / 85 of 425 total:
    // the big source loses ~15%, the rare one is ~3.4x upsampled
    val docs = ((0L until 400L).map(i => (i, "big")) ++
      (1000L until 1025L).map(i => (i, "rare"))).toDF("doc_id", "source")
    val rows = Assembly.temperatureMixtureOf(docs).collect()
    val bySource = rows.groupBy(_.getString(1))
    assert(bySource("big").head.getLong(2) == 340L)   // (425*20) div 25
    assert(bySource("rare").head.getLong(2) == 85L)   // (425*5) div 25
    val bigCopies = bySource("big").map(_.getLong(3))
    val rareCopies = bySource("rare").map(_.getLong(3))
    // copies are n_base or n_base+1, never anything else
    assert(bigCopies.forall(c => c == 0L || c == 1L))
    assert(rareCopies.forall(c => c == 3L || c == 4L))
    // per-source totals land near the temperature targets (md5 uniform)
    assert(math.abs(bigCopies.sum - 340L) < 60, s"big total ${bigCopies.sum}")
    assert(math.abs(rareCopies.sum - 85L) < 15, s"rare total ${rareCopies.sum}")
    // deterministic across runs
    val again = Assembly.temperatureMixtureOf(docs).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(3))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(3))).toSeq)
  }

  test("corpus manifest matches the materialized layout exactly") {
    val manifest = Assembly.corpusManifest(spark, sf).collect()
    assert(manifest.nonEmpty)
    val out = tmpDir("graft-corpus")
    Assembly.materializeCorpus(spark, sf, out)
    val back = spark.read.parquet(out)
    // every manifest row is a real (split, shard) leaf with the same count
    val backCounts = back.groupBy(col("split"), col("shard"))
      .count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val manCounts = manifest
      .map(r => (r.getString(0), r.getInt(1)) -> r.getAs[Long]("n_docs")).toMap
    assert(backCounts == manCounts)
    // the materialized corpus is exactly the kept set
    val keptIds = Curation.corpusFilter(spark, sf)
      .filter(col("keep")).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val backIds = back.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(backIds == keptIds)
    // id ranges in the manifest bound their groups
    manifest.foreach { r =>
      assert(r.getAs[Long]("first_doc") <= r.getAs[Long]("last_doc"))
      assert(r.getAs[Long]("n_docs") > 0L)
    }
  }

  test("ngram decontamination flags verbatim 5-gram overlap, not mere similarity") {
    import spark.implicits._
    // locate ids by their deterministic split first, then plant texts
    val splits = (0L until 100L).toDF("doc_id")
      .select(col("doc_id"), Assembly.splitColumn(col("doc_id")).as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val trainId = splits.collectFirst { case (id, "train") => id }.get
    val evalIds = splits.collect { case (id, s) if s != "train" => id }.toSeq.sorted
    val (leakyId, cleanId) = (evalIds.head, evalIds(1))
    val quoted = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (trainId, s"training corpus sentence with $quoted inside it somewhere"),
      // eval doc quoting a full span of the train doc verbatim
      (leakyId, s"totally different framing yet quoting $quoted word for word"),
      // same vocabulary, no shared 5-token window
      (cleanId, "fox dog lazy quick the brown over jumps tonight the")
    ).toDF("doc_id", "text")
    val rows = Assembly.ngramDecontaminationOf(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(leakyId, cleanId), "exactly the eval docs report")
    assert(rows(leakyId).getAs[Boolean]("is_contaminated"))
    // the quoted 10-token span yields 6 colliding 5-gram windows
    assert(rows(leakyId).getAs[Long]("n_hits") == 6L,
      s"expected 6 colliding windows, got ${rows(leakyId)}")
    assert(!rows(cleanId).getAs[Boolean]("is_contaminated"))
    assert(rows(cleanId).getAs[Long]("n_hits") == 0L)
    val rate = rows(leakyId).getAs[Double]("hit_rate")
    assert(rate > 0.0 && rate <= 1.0)
  }

  test("split token drift: exact-integer terms, zero iff proportions match") {
    val rows = Assembly.splitTokenDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    // ranked by train count, deterministic ties
    val trainCounts = rows.map(_.getAs[Long]("n_train"))
    assert(trainCounts.zip(trainCounts.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val drift = r.getAs[Double]("drift")
      assert(drift >= 0.0 && drift <= 2.0)
      // drift_num == 0 exactly when the rate is 0 (integer arithmetic
      // means no epsilon cases)
      assert((r.getAs[Long]("drift_num") == 0L) == (drift == 0.0))
    }
  }

  test("sequence packing: windows fill in doc order and never skip a pack") {
    val rows = Assembly.sequencePacking(spark, sf).collect()
    rows.groupBy(r => (r.getString(1), r.getString(2))).foreach { case (_, rs) =>
      val ordered = rs.sortBy(_.getLong(0))
      // tokens_before is the exact running sum in doc order
      var cum = 0L
      ordered.foreach { r =>
        assert(r.getLong(4) == cum, s"doc ${r.getLong(0)}: running sum broken")
        assert(r.getLong(5) == cum / Assembly.packBudget)
        cum += r.getInt(3)
      }
      // pack ids are contiguous from 0 (concatenation leaves no gaps)
      val packs = ordered.map(_.getLong(5)).distinct.toSeq
      assert(packs == (0L to packs.max).toSeq)
    }
  }

  test("epoch shuffle: shards partition the corpus; reseeding re-deals order and membership") {
    val rows = graft.SparkEntry.queries("q123_epoch_shuffle")(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    val byEpoch = rows.groupBy(_.getAs[String]("epoch"))
    assert(byEpoch.keySet == Set("epoch-0", "epoch-1"))
    byEpoch.foreach { case (ep, rs) =>
      // every doc lands in exactly one shard per epoch; shard ids are hex nibbles
      assert(rs.map(_.getAs[Long]("n_docs")).sum == nDocs, s"$ep partition")
      assert(rs.map(_.getAs[String]("shard")).forall(s =>
        s.length == 1 && "0123456789abcdef".contains(s)))
      // first_in_order is the shard's minimal shuffle key: its first
      // nibble must be the shard itself (order and placement share the key)
      rs.foreach(r => assert(
        r.getAs[String]("first_in_order").take(1) == r.getAs[String]("shard")))
    }
    // reseeding must actually re-deal: some shard's head doc changes
    def heads(ep: String) = byEpoch(ep)
      .map(r => r.getAs[String]("shard") -> r.getAs[String]("first_in_order").split(":").last)
      .toMap
    val (h0, h1) = (heads("epoch-0"), heads("epoch-1"))
    assert(h0.keySet.exists(s => h1.get(s).exists(_ != h0(s))),
      "epoch reseed changed no shard head — the permutation did not change")
    // determinism: a second run is bit-identical
    val again = graft.SparkEntry.queries("q123_epoch_shuffle")(spark, sf).collect()
    assert(rows.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("q168 PPS sample: multiplicities telescope to exactly k, certainty units taken") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_chars"))
    val totalW = docs.map(_._2).sum
    val rows = graft.SparkEntry.queries("q168_pps_sample")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("weight"),
        r.getAs[Long]("multiplicity")))
    assert(rows.map(_._3).sum == 100L, "sum of multiplicities must be exactly k")
    rows.foreach { case (id, w, m) =>
      assert(m >= 1L)
      // a doc can be selected at most once more than its proportional share
      assert(m <= w * 100L / totalW + 1, s"doc $id multiplicity $m vs weight $w")
    }
    // certainty units: weight >= W/k is always selected
    val selected = rows.map(_._1).toSet
    docs.filter { case (_, w) => w * 100L >= totalW }
      .foreach { case (id, _) => assert(selected.contains(id), s"certainty doc $id") }
    // determinism: a second run is bit-identical
    val again = graft.SparkEntry.queries("q168_pps_sample")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("weight"),
        r.getAs[Long]("multiplicity")))
    assert(rows.toSeq == again.toSeq)
  }
}
