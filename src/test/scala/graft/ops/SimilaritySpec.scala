package graft.ops

import graft.SparkTestBase

class SimilaritySpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("brute-force top-k: k results per query, ranked by cosine") {
    val rows = Similarity.bruteTopK(spark, sf).collect()
    assert(rows.length == Similarity.nQueries * Similarity.k)
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank"))
      val cosines = byRank.map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
        "cosine must be non-increasing in rank")
      assert(byRank.map(_.getAs[Int]("rank")).toSeq == (1 to Similarity.k))
    }
  }

  test("LSH ANN achieves usable recall vs the exact baseline") {
    val exact = Similarity.bruteTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    val approx = Similarity.lshTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // This corpus is near-uniform (top-10 cosine <= 0.4) — the LSH
    // worst case. Multiprobe (3 extra single-bit-flip probes per
    // table on the query side) measures 0.82 pooled here and >= 0.72
    // at every SF (seed-fixed hyperplanes, so deterministic); chance
    // would be k/corpus = 0.02.
    assert(recall >= 0.6, s"recall $recall too low — multiprobe LSH degraded")
  }

  test("IVF ANN: valid top-k shape, usable recall, bounded search fraction") {
    val rows = Similarity.ivfTopK(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      assert(rs.length <= Similarity.k)
      val byRank = rs.sortBy(_.getAs[Int]("rank"))
      val cosines = byRank.map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
    val exact = Similarity.bruteTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    val approx = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // nProbe/nCells = 1/4 of the corpus searched; on this near-uniform
    // corpus expected recall ~ searched fraction (measures 0.58 pooled
    // here, seeded k-means so deterministic). Chance at k=10/500
    // would be 0.02.
    assert(recall >= 0.4, s"IVF recall $recall too low — cell routing broken")

    // the index must actually bound the search: cells partition the
    // corpus, probes only touch nProbe of nCells
    val emb = graft.Tables.embeddings(spark, sf)
    val centroids = Similarity.ivfCentroids(emb, "embedding", Similarity.nCells)
    val cells = emb.select(Similarity.ivfAssign(
        org.apache.spark.sql.functions.col("embedding"), centroids).as("cell"))
      .groupBy("cell").count().collect()
    assert(cells.length > 1 && cells.length <= Similarity.nCells)
  }

  test("PQ ANN: packed 8-byte codes, valid shape, usable recall after re-rank") {
    val rows = Similarity.pqTopK(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      assert(rs.length <= Similarity.k)
      val cosines = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
    val exact = Similarity.bruteTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    val approx = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // the ADC shortlist is pqRerankC/corpus = 10% of rows here, but
    // ADC ranks by (quantized) cosine rather than a random fraction,
    // so recall should far exceed the shortlist fraction; chance at
    // k=10/500 would be 0.02
    assert(recall >= 0.6, s"PQ recall $recall too low — ADC ranking broken")

    // the code column really is ONE packed bigint per vector: every
    // byte decodes to a valid centroid id
    val emb = graft.Tables.embeddings(spark, sf)
    val dim = emb.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("embedding"))).head.getInt(0)
    val books = Similarity.pqCodebooks(emb, "embedding")
    val codes = emb.select(Similarity.pqEncode(
      org.apache.spark.sql.functions.col("embedding"), books, dim).as("code"))
      .collect().map(_.getLong(0))
    assert(codes.nonEmpty)
    codes.foreach { c =>
      (0 until Similarity.pqBlocks).foreach { b =>
        val cid = (c >> (8 * b)) & 255L
        assert(cid >= 0 && cid < books(b).length,
          s"block $b decoded centroid $cid out of range")
      }
    }
  }

  test("IVF-PQ ANN: valid shape, recall >= the flat-PQ bar, fixed shortlist") {
    val rows = Similarity.ivfPqTopK(spark, sf).collect()
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      assert(rs.length <= Similarity.k)
      val cosines = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
    val exact = Similarity.bruteTopK(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    val approx = rows.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vid"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // residual-coded ADC within probed cells, with the shortlist FIXED
    // at c*k — the recall must come from nprobe + code fidelity, not
    // from a corpus-proportional shortlist (seeded, so deterministic)
    assert(recall >= 0.6, s"IVF-PQ recall $recall too low — composition broken")
    Dedup.releaseSketchCaches()
  }

  test("IVF-PQ: the per-query rank partition is probed-cells-sized, never the corpus") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf)
    val n = emb.count()
    val qs = emb.filter(col("vec_id") < Similarity.nQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    // reproduce the probe selection driver-side from the SAME memoized
    // quantizer, then pin that the scored frame (the row_number input)
    // holds EXACTLY the probed cells' rows per query — the structural
    // difference from flat PQ, whose rank partition is the corpus
    val cells = Similarity.ivfPqCells(n)
    val centroids = Similarity.ivfCentroids(emb, "embedding", cells)
    val assigned = emb.select(col("vec_id"),
        Similarity.ivfAssign(col("embedding"), centroids).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val occupancy = assigned.values.groupBy(identity).map { case (c, xs) => (c, xs.size) }
    def probedOf(qv: Array[Double]): Seq[Int] =
      centroids.zipWithIndex.map { case (c, i) =>
        (c.map(x => x * x).sum - 2.0 * c.zip(qv).map { case (a, b) => a * b }.sum, i)
      }.sorted.take(math.min(Similarity.ivfPqNProbe, centroids.length)).map(_._2).toSeq
    val scored = Similarity.ivfPqScoredFor(emb, qs)
      .groupBy(col("qid")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    qs.foreach { case (qid, qv) =>
      val probed = probedOf(qv).toSet
      val expected = probed.toSeq.map(c => occupancy.getOrElse(c, 0)).sum -
        (if (probed.contains(assigned(qid))) 1 else 0) // self-pair filtered
      assert(scored(qid) == expected,
        s"query $qid scored ${scored(qid)} rows, expected probed-cell total $expected")
      assert(scored(qid) < n, s"query $qid scored the whole corpus")
    }
    // and the re-rank shortlist is the FIXED c*k, independent of n
    val cand = Similarity.ivfPqCandidateIdsFor(emb, qs)
      .groupBy(col("qid")).count().collect().map(_.getLong(1))
    assert(cand.forall(_ <= Similarity.ivfPqRerankC * Similarity.k))
    Dedup.releaseSketchCaches()
  }

  test("IVF-PQ cell count scales with the corpus (constant probed work)") {
    assert(Similarity.ivfPqCells(500) == Similarity.nCells)
    assert(Similarity.ivfPqCells(2000) == Similarity.nCells)
    assert(Similarity.ivfPqCells(1000000) == 1953)
    assert(Similarity.ivfPqCells(1L << 40) == 65536)
    val ns = Seq(100L, 10000L, 1000000L, 100000000L)
    val cs = ns.map(Similarity.ivfPqCells(_))
    assert(cs == cs.sorted, "cell count must be monotone in corpus size")
  }

  test("q31g per-regime PQ recall: planted families recovered per contract") {
    val rows = Similarity.pqRegimeRecall(spark, sf).collect()
    Dedup.releaseSketchCaches()
    val recall = rows.map(r => (r.getAs[String]("method"),
      r.getAs[String]("regime")) -> r.getAs[Double]("recall")).toMap
    assert(recall.size == 6, s"expected 2 methods x 3 regimes, got $recall")
    rows.foreach(r => assert(r.getAs[Long]("n_planted") == Similarity.pqAuditPlanted))
    // an exact copy's code is its seed's code: the shortlist cannot
    // miss it on either path
    assert(recall(("pq", "exact")) == 1.0, s"flat-PQ exact-regime recall $recall")
    assert(recall(("ivfpq", "exact")) == 1.0, s"IVF-PQ exact-regime recall $recall")
    // tight perturbation (eps=0.02 per component) stays in-cell and
    // near-identically coded (measured 1.0 at every SF; floor leaves
    // seed headroom)
    assert(recall(("pq", "tight")) >= 0.9)
    assert(recall(("ivfpq", "tight")) >= 0.9)
    // loose perturbation (eps=0.16 ≈ cosine 0.8) is the honest hard
    // regime — still
    // far above the ~shortlist/corpus chance level
    assert(recall(("pq", "loose")) >= 0.5)
    assert(recall(("ivfpq", "loose")) >= 0.5)
  }

  test("quantizer/codebook training is sample-capped (VERDICT r10 #2)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vecs = (0 until 1000).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Array.fill(8)(r.nextFloat()))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    spark.conf.set("spark.graft.ann.trainSampleCap", "64")
    try {
      // the cap fires: the training frame is a strict, deterministic,
      // non-empty subset of the oversized corpus
      val sample = Similarity.trainSample(emb, 8)
      val ids = sample.select(col("vec_id")).collect().map(_.getLong(0)).toSet
      assert(ids.nonEmpty && ids.size < 1000,
        s"cap did not fire: sample size ${ids.size}")
      val again = Similarity.trainSample(emb, 8)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
      assert(again == ids, "sample is not deterministic")
      // and the quantizer really trains on that sample: the API's
      // centroids equal a direct seeded fit on the sampled rows
      val viaApi = Similarity.ivfCentroids(emb, "embedding", 8)
      val feats = sample.select(org.apache.spark.ml.functions
        .array_to_vector(col("embedding").cast("array<double>")).as("features"))
      val direct = new org.apache.spark.ml.clustering.KMeans()
        .setK(8).setSeed(42L).setMaxIter(10)
        .fit(feats).clusterCenters.map(_.toArray)
      assert(viaApi.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq,
        "ivfCentroids did not train on the capped sample")
      // below the cap the frame passes through UNCHANGED (same plan,
      // so every existing corpus result is untouched)
      val small = vecs.take(50).toDF("vec_id", "embedding")
      assert(Similarity.trainSample(small, 8) eq small)
    } finally spark.conf.unset("spark.graft.ann.trainSampleCap")
  }

  test("PqEncode expression is bit-identical to the literal least()-chain argmin") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the swap's core claim: the native expression computes ivfAssign's
    // EXACT operand tree (cnorm2 - 2*dot, low-id tie-break), so codes
    // match the old literal form bit for bit on any input
    val dim = 16
    val vecs = (0 until 200).map { i =>
      val r = new scala.util.Random(100 + i)
      (i.toLong, Array.fill(dim)(r.nextFloat() * 2 - 1))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooks(emb, "embedding")
    val dsub = math.max(1, dim / Similarity.pqBlocks)
    val literalForm = books.zipWithIndex.map { case (book, b) =>
      val len = if (b == Similarity.pqBlocks - 1) dim - b * dsub else dsub
      Similarity.ivfAssign(slice(col("embedding"), b * dsub + 1, len), book)
        .cast("long") * lit(1L << (8 * b))
    }.reduce(_ + _)
    val rows = emb.select(
      Similarity.pqEncode(col("embedding"), books, dim).as("native"),
      literalForm.as("literal")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1),
        s"native ${r.getLong(0)} != literal ${r.getLong(1)}")
    }
  }

  test("q31h: deletes are tombstone metadata — net-deleted ids never surface, LWW resurrects") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf)
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val books = Similarity.pqCodebooks(emb, "embedding")
    val all = emb.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val netDeleted = all.filter(id => id % 7 == 3 && id % 21 != 3)
    val resurrected = all.filter(_ % 21 == 3)
    assert(netDeleted.nonEmpty && resurrected.nonEmpty, "fixture waves empty")
    // the live index is exactly the corpus minus the net-deleted set —
    // the delete wave removed, the LWW re-insert wave resurrected
    val snap = Similarity.pqDeleteSnapshot(emb, books, dim)
    val liveIds = Cdc.live(snap).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(liveIds == all -- netDeleted, "live index != corpus minus net-deleted")
    // and the tombstones are still THERE (rows, not absence) — the
    // order-independence witness
    assert(snap.filter(col("op") === "D").count() == netDeleted.size)
    // the registered query can never return a net-deleted id
    val out = Similarity.pqDeleteMaintained(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => !netDeleted.contains(r.getAs[Long]("vid"))),
      "a deleted vector surfaced in the ANN results")
    // parity: the maintained snapshot's shortlist == flat PQ over the
    // surviving corpus with the SAME frozen books (deletion changed
    // index membership, not search semantics)
    val qs = emb.filter(col("vec_id") < Similarity.nQueries)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val fromSnap = Similarity.pqCandidatesFromCodes(spark,
      Cdc.live(snap).select(col("vec_id"), col("code"), col("nrm")),
      books, dim, qs, shortlist = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val survivors = emb.filter(!col("vec_id").isin(netDeleted.toSeq: _*))
    val fromFiltered = Similarity.pqCandidatesFromCodes(spark,
      survivors.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), books, dim).as("code"),
        Similarity.normD(col("embedding")).as("nrm")),
      books, dim, qs, shortlist = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromSnap == fromFiltered,
      "maintained-index shortlist diverged from the filtered-corpus rerun")
  }

  test("PqEncode offsets derive from the trained dim, not the vector's own width (ADVICE r11)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a wrong-width vector must encode at the CODEBOOKS' offsets
    // (dim-based, short reads zero-padded, trailing extras ignored) —
    // exactly the literal slice form's clamping — never at offsets
    // derived from its own length, which silently misaligns every
    // block against the trained centroids
    val dim = 16
    val rnd = new scala.util.Random(7)
    val base = (0 until 100).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val books = Similarity.pqCodebooks(base.toDF("vec_id", "embedding"), "embedding")
    val mixed = Seq(
      (0L, base(0)._2.take(9)),        // short, cut mid-block
      (1L, base(1)._2.take(dim / 2)),  // short, half the blocks empty
      (2L, base(2)._2 :+ 0.5f),        // long, trailing element ignored
      (3L, base(3)._2)                 // exact width — control
    ).toDF("vec_id", "embedding")
    val dsub = math.max(1, dim / Similarity.pqBlocks)
    val literalForm = books.zipWithIndex.map { case (book, b) =>
      val len = if (b == Similarity.pqBlocks - 1) dim - b * dsub else dsub
      Similarity.ivfAssign(slice(col("embedding"), b * dsub + 1, len), book)
        .cast("long") * lit(1L << (8 * b))
    }.reduce(_ + _)
    mixed.select(col("vec_id"),
      Similarity.pqEncode(col("embedding"), books, dim).as("native"),
      literalForm.as("literal")).collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"vec ${r.getLong(0)}: native ${r.getLong(1)} != dim-offset literal ${r.getLong(2)}")
    }
  }

  test("training sample stays per-row independent on a duplicate-heavy corpus") {
    import spark.implicits._
    // the self-review regression pin: a content-only hash put all n
    // copies of a vector in or out of the sample together (degenerate
    // on an all-identical corpus); the row hash keeps independence
    val v = Array.fill(8)(0.25f)
    val emb = (0 until 1000).map(i => (i.toLong, v)).toDF("vec_id", "embedding")
    spark.conf.set("spark.graft.ann.trainSampleCap", "64")
    try {
      val n = Similarity.trainSample(emb, 8).count()
      assert(n > 0 && n < 1000,
        s"sample of $n from 1000 identical vectors — duplicates went all-in/all-out")
    } finally spark.conf.unset("spark.graft.ann.trainSampleCap")
  }

  test("PQ rejects embedding dims below the block count (ADVICE r10)") {
    import spark.implicits._
    val emb = (0 until 20).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Array.fill(4)(r.nextFloat()))
    }.toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(emb, "embedding")
    }
    assert(e.getMessage.contains("pqBlocks"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.pqEncode(org.apache.spark.sql.functions.col("embedding"),
        Array(Array(Array(0.0))), dim = 4)
    }
    assert(e2.getMessage.contains("pqBlocks"))
  }

  test("semantic dedup: planted clone clusters are found cell-locally") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The testdata embeddings are near-uniform (max pairwise cosine
    // ~0.5 at every SF — the comment on the LSH test), so semantic
    // dups are planted here: 3 clone clusters of 5 (tiny per-clone
    // perturbation, pairwise cosine > 0.99), one exact-duplicate
    // group, and uniform-ish noise vectors.
    val dim = 8
    def mk(active: Int, eps: Double, at: Int): Array[Float] = {
      val v = Array.fill(dim)(0.0f)
      v(active) = 1.0f
      v(at) = eps.toFloat
      v
    }
    val clones = for (c <- 0 until 3; i <- 0 until 5)
      yield ((c * 5 + i).toLong, mk(c, 0.01 * (i + 1), (c + 3) % dim))
    val dupVec = mk(6, 0.5, 7)
    val exactDups = Seq(100L -> dupVec, 101L -> dupVec, 102L -> dupVec)
    val noise = for (i <- 0 until 40) yield {
      val rnd = new scala.util.Random(9000 + i)
      (200L + i, Array.fill(dim)(rnd.nextFloat() - 0.5f))
    }
    val emb = (clones ++ exactDups ++ noise).toDF("vec_id", "embedding")
    val found = Similarity.semanticCellPairs(emb).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) -> r.getAs[Double]("cosine"))
      .toMap
    Dedup.releaseSketchCaches()
    // every same-cluster clone pair must surface (clones are nearly
    // coincident, so they share a k-means cell) at cosine > 0.99
    for (c <- 0 until 3; i <- 0 until 5; j <- i + 1 until 5) {
      val key = ((c * 5 + i).toLong, (c * 5 + j).toLong)
      assert(found.contains(key), s"missing clone pair $key")
      assert(found(key) > 0.99, s"clone pair $key cosine ${found(key)}")
    }
    // the identical-vector group pairs via the collapse path at cosine 1
    for ((a, b) <- Seq((100L, 101L), (100L, 102L), (101L, 102L))) {
      assert(found.contains((a, b)), s"missing exact-dup pair ($a,$b)")
      assert(math.abs(found((a, b)) - 1.0) < 1e-6)
    }
    // no cross-cluster clone pair can score as a dup
    assert(found.filter(_._2 >= 0.9).keys.forall { case (a, b) =>
      (a < 15 && b < 15 && a / 5 == b / 5) || (a >= 100 && b >= 100 && a < 200 && b < 200)
    }, "a non-planted pair scored >= 0.9")
  }

  test("semantic keepers collapse planted clusters to their min id") {
    import spark.implicits._
    // The testdata's cosine >= 0.9 graph is empty, so q71b's keeper
    // closure is pruned there; here q71b runs on planted clusters whose
    // min id is not their first member, on both sides of the fused
    // edge cap (the driver union-find and the dupKeepers loop)
    val dim = 8
    def mk(active: Int, eps: Double, at: Int): Array[Float] = {
      val v = Array.fill(dim)(0.0f); v(active) = 1.0f; v(at) = eps.toFloat; v
    }
    val clusters = Seq(Seq(14L, 3L, 22L, 9L, 30L), Seq(41L, 8L, 17L, 50L, 26L),
      Seq(35L, 33L, 12L, 47L, 5L))
    val clones = for ((ids, c) <- clusters.zipWithIndex; (id, i) <- ids.zipWithIndex)
      yield (id, mk(c, 0.01 * (i + 1), (c + 3) % dim))
    val dupVec = mk(6, 0.5, 7)
    val exactDups = Seq(71L, 65L, 68L).map(_ -> dupVec)
    val noise = for (i <- 0 until 40) yield {
      val rnd = new scala.util.Random(9000 + i)
      (200L + i, Array.fill(dim)(rnd.nextFloat() - 0.5f))
    }
    val dir = tmpDir("q71b-planted")
    (clones ++ exactDups ++ noise).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val want = (clusters :+ Seq(71L, 65L, 68L)).flatMap(ids => ids.map(_ -> ids.min)).toMap ++
      noise.map { case (id, _) => id -> id }
    val capKey = "spark.graft.cc.fusedMaxEdges"
    for (cap <- Seq(None, Some("0"))) {
      cap.foreach(spark.conf.set(capKey, _))
      val got = try {
        Similarity.semanticKeepers(spark, dir).collect()
          .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("keeper")).toMap
      } finally { spark.conf.unset(capKey); Dedup.releaseSketchCaches() }
      assert(got == want, s"cap ${cap.getOrElse("default")}: got $got want $want")
    }
  }

  test("semantic dedup on the corpus: bounded cell-local work, valid report shape") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf)
    val pairs = Similarity.semanticCellPairs(emb)
    val n = pairs.count()
    // within-cell quadratic stays bounded: far below the all-pairs count
    val total = emb.count()
    assert(n < total * total / 8, s"cell-local pair count $n looks like a cross join")
    val report = Similarity.semanticDedup(spark, sf).collect()
    Dedup.releaseSketchCaches()
    assert(report.length <= 100)
    val cos = report.map(_.getAs[Double]("cosine"))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b }, "report not ranked")
    // the near-uniform corpus holds no true semantic dups
    assert(report.forall(!_.getAs[Boolean]("is_dup")))
  }

  test("dedup LSH resolution scales with corpus size (constant bucket occupancy)") {
    // pure ladder: fixed 6 bits until ~4k rows, then +1 bit per
    // doubling, capped at 20 (1M buckets/table)
    assert(Similarity.dedupBitsPerTable(500) == 6)
    assert(Similarity.dedupBitsPerTable(4096) == 6)
    assert(Similarity.dedupBitsPerTable(20000) == 9)
    assert(Similarity.dedupBitsPerTable(200000) == 12)
    assert(Similarity.dedupBitsPerTable(1L << 40) == 20)
    // monotone: more corpus never means coarser buckets
    val ns = Seq(100L, 1000L, 10000L, 100000L, 10000000L)
    val bits = ns.map(Similarity.dedupBitsPerTable(_))
    assert(bits == bits.sorted)
  }

  test("LSH candidates prune the corpus (no global cross join)") {
    val emb = graft.Tables.embeddings(spark, sf)
    val n = emb.count()
    val candidates = Similarity.candidatePairs(emb, "vec_id", "embedding").count()
    val allPairs = n * (n - 1) / 2
    assert(candidates < allPairs / 3,
      s"$candidates candidate pairs of $allPairs — LSH is not pruning")
  }

  test("join-argmin assignment is identical to the literal-centroid form (VERDICT r5 #4)") {
    import org.apache.spark.sql.functions._
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val centroids = Similarity.ivfCentroids(emb, "embedding", 32)
    val literal = emb
      .select(col("vec_id"), Similarity.ivfAssign(col("embedding"), centroids).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val joined = Similarity.ivfAssignByJoin(emb, "embedding", centroids)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(joined.size == literal.size)
    assert(joined == literal,
      "broadcast-table argmin diverged from the literal codegen argmin")
  }

  test("hierarchical assignment matches the flat argmin on a separated corpus (r6)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 8 tight one-hot clusters in 8-dim: separation >> quantization
    // error, so nearest-fine-within-nearest-coarse == global argmin
    val dim = 8
    val vecs = for (c <- 0 until dim; i <- 0 until 12) yield {
      val v = Array.fill(dim)(0.0f)
      v(c) = 1.0f; v((c + 1) % dim) = 0.01f * (i + 1)
      ((c * 12 + i).toLong, v)
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val centroids = Similarity.ivfCentroids(emb, "embedding", dim)
    val flat = Similarity.ivfAssignByJoin(emb, "embedding", centroids)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    val hier = Similarity.ivfAssignHierarchical(emb, "embedding", centroids,
      coarseK = 3)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(hier.size == flat.size)
    assert(hier == flat,
      "two-level assignment diverged from the flat argmin on separated clusters")
  }

  test("semantic dedup on the hierarchical tier: planted clusters survive (r6)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dim = 8
    def mk(active: Int, eps: Double, at: Int): Array[Float] = {
      val v = Array.fill(dim)(0.0f); v(active) = 1.0f; v(at) = eps.toFloat; v
    }
    val clones = for (c <- 0 until 3; i <- 0 until 5)
      yield ((c * 5 + i).toLong, mk(c, 0.01 * (i + 1), (c + 3) % dim))
    val noise = for (i <- 0 until 400) yield {
      val rnd = new scala.util.Random(7000 + i)
      (200L + i, Array.fill(dim)(rnd.nextFloat() - 0.5f))
    }
    val emb = (clones ++ noise).toDF("vec_id", "embedding")
    val found = Similarity
      .semanticCellPairs(emb, cellsOverride = Some(96),
        forceHierarchicalAssign = true)
      .collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) -> r.getAs[Double]("cosine"))
      .toMap
    Dedup.releaseSketchCaches()
    for (c <- 0 until 3; i <- 0 until 5; j <- i + 1 until 5) {
      val key = ((c * 5 + i).toLong, (c * 5 + j).toLong)
      assert(found.contains(key), s"missing clone pair $key on the hierarchical tier")
      assert(found(key) > 0.99, s"clone pair $key cosine ${found(key)}")
    }
  }

  test("semantic dedup past the literal cap: >64 cells runs the join path, planted clusters survive") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the r5 design note: past literalCentroidCap the assignment hands
    // over to the broadcast centroid table — prove the q71 pipeline
    // still finds every planted clone pair with 96 cells
    val dim = 8
    def mk(active: Int, eps: Double, at: Int): Array[Float] = {
      val v = Array.fill(dim)(0.0f); v(active) = 1.0f; v(at) = eps.toFloat; v
    }
    val clones = for (c <- 0 until 3; i <- 0 until 5)
      yield ((c * 5 + i).toLong, mk(c, 0.01 * (i + 1), (c + 3) % dim))
    val noise = for (i <- 0 until 400) yield {
      val rnd = new scala.util.Random(3000 + i)
      (200L + i, Array.fill(dim)(rnd.nextFloat() - 0.5f))
    }
    val emb = (clones ++ noise).toDF("vec_id", "embedding")
    assert(96 > Similarity.literalCentroidCap)
    val found = Similarity.semanticCellPairs(emb, cellsOverride = Some(96)).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")) -> r.getAs[Double]("cosine"))
      .toMap
    Dedup.releaseSketchCaches()
    for (c <- 0 until 3; i <- 0 until 5; j <- i + 1 until 5) {
      val key = ((c * 5 + i).toLong, (c * 5 + j).toLong)
      assert(found.contains(key), s"missing clone pair $key on the join path")
      assert(found(key) > 0.99, s"clone pair $key cosine ${found(key)}")
    }
    // no CROSS-CLUSTER clone pair can score as a dup (random 8-dim
    // noise-noise pairs occasionally exceed 0.9 at 400 vectors — a
    // true near-dup the operator is right to report, so noise pairs
    // are out of scope here)
    assert(found.filter(_._2 >= 0.9).keys
      .filter { case (a, b) => a < 15 || b < 15 }
      .forall { case (a, b) => a < 15 && b < 15 && a / 5 == b / 5 },
      "a cross-cluster clone pair scored >= 0.9 with 96 cells")
  }

  test("q118 cluster labels: 5 ranked terms per class, score formula holds") {
    val rows = Similarity.clusterLabels(spark, "/root/testdata/sf0.001").collect()
    val byLabel = rows.groupBy(_.getAs[Int]("label"))
    assert(byLabel.nonEmpty)
    byLabel.foreach { case (l, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5), s"label $l ranks")
      // scores arrive in rank order and respect the exact ppm formula's
      // monotonicity (ties broken by term)
      val ordered = rs.sortBy(_.getAs[Int]("rank"))
      val scores = ordered.map(_.getAs[Long]("score_ppm"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      // a top term is at least class-frequent: df_classes >= 1 and its
      // tf is positive
      ordered.foreach { r =>
        assert(r.getAs[Long]("tf") > 0 && r.getAs[Long]("df_classes") >= 1)
      }
    }
  }
}
