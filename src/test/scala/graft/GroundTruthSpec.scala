package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{AnnLsh, Buckets, LlmData, MinHash, SimHash, Util}

/** Fixture-wide ground-truth verification for the rows-only queries
  * (round-5 verdict, task 1): planted-input unit tests prove mechanics,
  * not behavior on the real fixture distribution. At sf0.001 (500 docs /
  * 500 vectors) the brute-force all-pairs truth is computable IN SPARK
  * (125k pairs — a deliberate test-scale-only crossJoin; the production
  * paths under test exist precisely so this join never happens at
  * scale), so each LSH/sketch path is checked against exact truth:
  *
  *  - precision must be 1.0 — every emitted pair/hit is in the truth set
  *    with the exact verified value (LSH costs recall, never precision);
  *  - recall is measured on the fixture and pinned at a floor consistent
  *    with each class-doc S-curve (and asserted complete where the
  *    design guarantees completeness, e.g. SimHash pigeonhole bands with
  *    zero bucket overflow).
  */
class GroundTruthSpec extends SparkTestBase {

  private def docs = Util.t(spark, sfDir, "documents")
  private def embs = Util.t(spark, sfDir, "embeddings")

  /** Brute-force all-pairs frame (a < b) from a keyed payload frame. */
  private def allPairs(df: DataFrame, idCol: String, payload: String): DataFrame = {
    val a = df.select(col(idCol).as("pa"), col(payload).as(s"${payload}_a"))
    val b = df.select(col(idCol).as("pb"), col(payload).as(s"${payload}_b"))
    a.crossJoin(b).filter(col("pa") < col("pb"))
  }

  /** K2 check at any fixture scale: precision must be 1.0 with
    * bit-exact jaccards; fixture-wide recall must clear the S-curve
    * floor. */
  private def k2Check(dir: String): Unit = {
    val d = Util.t(spark, dir, "documents")
    val sets = MinHash.shingleSets(
        MinHash.shingleRows(d, "doc_id", "text"), "doc_id")
      .select(col("doc_id"), col("shingles")).cache()
    // identical decimal arithmetic to the query under test, so emitted
    // jaccard values must match the truth bit-for-bit
    val truth = allPairs(sets, "doc_id", "shingles")
      .withColumn("n_int", size(array_intersect(col("shingles_a"), col("shingles_b"))))
      .withColumn("n_union",
        size(col("shingles_a")) + size(col("shingles_b")) - col("n_int"))
      .withColumn("jaccard", Util.dbl(Util.dec(col("n_int")) / col("n_union")))
      .filter(col("jaccard") >= 0.5d)
      .select(col("pa"), col("pb"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    sets.unpersist()
    val emitted = LlmData.dedupMinhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(truth.nonEmpty,
      "fixture must contain true J>=0.5 pairs for this check to be non-vacuous")
    for ((p, j) <- emitted) {
      assert(truth.contains(p), s"emitted pair $p is not a true J>=0.5 pair")
      assert(truth(p) == j, s"pair $p: emitted jaccard $j != truth ${truth(p)}")
    }
    val recall = emitted.keysIterator.count(truth.contains).toDouble / truth.size
    info(s"K2 $dir truth=${truth.size} emitted=${emitted.size} recall=$recall")
    // class-doc S-curve (1-(1-j^4)^8): >=0.96 at j=0.8; fixture dups are
    // high-overlap edits, so fixture-wide recall must clear this floor
    assert(recall >= 0.9, s"K2 fixture recall $recall below the S-curve floor")
  }

  /** K11 check at any fixture scale: pigeonhole-complete bands at zero
    * overflow must equal the brute-force Hamming≤3 truth exactly. */
  private def k11Check(dir: String): Unit = {
    val d = Util.t(spark, dir, "documents")
    val toks = d.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val fps = SimHash.fingerprints(toks, "doc_id", "token").cache()
    val truth = allPairs(fps, "doc_id", "simhash")
      .withColumn("hamming", bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))))
      .filter(col("hamming") <= 3)
      .select(col("pa"), col("pb"), col("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    fps.unpersist()
    val emitted = LlmData.dedupSimhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(truth.nonEmpty,
      "fixture must contain true Hamming<=3 pairs for this check to be non-vacuous")
    for ((p, h) <- emitted) {
      assert(truth.contains(p), s"emitted pair $p is not a true Hamming<=3 pair")
      assert(truth(p) == h, s"pair $p: emitted hamming $h != truth ${truth(p)}")
    }
    // 4x16 bands are pigeonhole-complete for d<=3 among uncapped bucket
    // members; with zero overflow on the fixture, recall must be exactly 1
    info(s"K11 $dir truth=${truth.size} emitted=${emitted.size}")
    assert(emitted.keySet == truth.keySet,
      "zero-overflow pigeonhole bands must recover the full Hamming<=3 truth set")
  }

  test("K2 dedup_minhash: precision 1.0 vs brute-force Jaccard truth; recall on-curve") {
    k2Check(sfDir)
  }

  test("K11 dedup_simhash: equals brute-force Hamming<=3 truth (complete at 0 overflow)") {
    k11Check(sfDir)
  }

  // one scale up (round-6 verdict task 8): ~5k docs → 12.5M brute-force
  // pairs, still Spark-feasible in a test; pins recall on a 10×
  // distribution instead of extrapolating from 500 docs
  test("K2 dedup_minhash: ground truth holds one scale up (sf0.01)") {
    k2Check("/root/testdata/sf0.01")
  }

  test("K11 dedup_simhash: ground truth holds one scale up (sf0.01)") {
    k11Check("/root/testdata/sf0.01")
  }

  test("K12 dedup_embedding: emitted cosines exact; recall vs true top-10 on-curve") {
    val vecs = embs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val pairCos = allPairs(vecs, "vec_id", "v")
      .select(col("pa"), col("pb"),
        round(AnnLsh.cosine(col("v_a"), col("v_b")), 6).as("cos"))
      .cache()
    val cosByPair = pairCos
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val truthTop = pairCos
      .orderBy(col("cos").desc, col("pa"), col("pb")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairCos.unpersist()
    val emitted = LlmData.dedupEmbedding(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    assert(emitted.nonEmpty)
    for ((p, c) <- emitted)
      assert(cosByPair(p) == c, s"pair $p: emitted cosine $c != exact ${cosByPair(p)}")
    // recall vs the true top-10 is RECORDED, not floored: the fixture's
    // top pairs sit at cos ~0.45-0.48, where the 8x16 dedup S-curve
    // (1-(1-p^16)^8, p = 1-acos(c)/pi) predicts per-pair recall < 1% —
    // the operator is a NEAR-dup detector (recall -> 1 as cos -> 1),
    // and on a random-Gaussian corpus there are no near-dups to find
    val hits = emitted.map(_._1).count(truthTop.contains)
    info(s"K12 recall@10 = ${hits / 10.0} (S-curve-predicted expectation < 0.1 " +
      "at the fixture's cos ~0.45-0.48 top pairs)")
  }

  test("K12 dedup_embedding: planted near-dups against the full fixture background") {
    // recall where the S-curve promises it (cos ~ 1): plant three scaled
    // copies of fixture vectors among all 500 real distractors — a scaled
    // copy has identical dot-product signs, so it collides in EVERY
    // table; all three planted pairs must lead the top-10 at cosine 1.0
    val planted = Seq(17L -> 1017L, 225L -> 1225L, 12L -> 1012L)
    val copies = embs
      .filter(col("vec_id").isin(planted.map(_._1): _*))
      .select((col("vec_id") + lit(1000L)).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.0005f)).as("embedding"))
    val augmented = embs.select(col("vec_id"), col("embedding")).union(copies)
    val top = AnnLsh.topNearDupPairs(augmented, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val lead = top.take(3).map(p => (p._1, p._2)).toSet
    assert(lead == planted.map(p => (p._1, p._2)).toSet,
      s"planted pairs must lead the top-10, got ${top.toSeq}")
    assert(top.take(3).forall(_._3 == 1.0),
      "scaled copies must verify at exact cosine 1.0")
  }

  test("K13 sim_ann_topk: recall@5 vs the oracle-checked exact sim_topk") {
    val exact = LlmData.simTopk(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val ann = LlmData.simAnnTopk(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val recall = ann.count(exact.contains).toDouble / exact.size
    info(s"K13 recall@5 vs exact = $recall (ann=$ann exact=$exact)")
    // deterministic (fixed-seed hyperplanes, fixed fixture): 4 tables x
    // 8 bits with Hamming-1 multi-probe at the fixture's cos ~0.30-0.33
    // neighbors predicts per-pair recall ~0.38 (class-doc curve); the
    // measured fixture value is pinned as the regression floor
    assert(recall >= 0.4, s"K13 recall@5 $recall below the pinned fixture floor")
  }

  test("K13 sim_ann_topk: recall@5 holds one scale up (sf0.01)") {
    // deterministic at the 10x distribution too — measured 3/5, pinned
    val dir = "/root/testdata/sf0.01"
    val exact = LlmData.simTopk(spark, dir).collect().map(_.getLong(0)).toSet
    val ann = LlmData.simAnnTopk(spark, dir).collect().map(_.getLong(0)).toSet
    val recall = ann.count(exact.contains).toDouble / exact.size
    info(s"K13 sf0.01 recall@5 = $recall")
    assert(recall >= 0.6, s"K13 sf0.01 recall@5 $recall below the pinned floor")
  }

  test("K18 sim_ivf_topk: recall@5 vs the oracle-checked exact sim_topk") {
    val exact = LlmData.simTopk(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val ivf = LlmData.simIvfTopk(spark, sfDir)
      .collect().map(_.getLong(0)).toSet
    val recall = ivf.count(exact.contains).toDouble / exact.size
    info(s"K18 recall@5 vs exact = $recall (ivf=$ivf exact=$exact)")
    // probing 2/16 cells: FAISS-style IVF recall on random data ~ nprobe/K
    // per cell mass, but true neighbors concentrate in the query's cell
    assert(recall >= 0.4, s"K18 recall@5 $recall below floor")
  }

  test("K18 sim_ivf_topk: recall@5 holds one scale up (sf0.01)") {
    // deterministic (seeded k-means sample) — measured 2/5, pinned
    val dir = "/root/testdata/sf0.01"
    val exact = LlmData.simTopk(spark, dir).collect().map(_.getLong(0)).toSet
    val ivf = LlmData.simIvfTopk(spark, dir).collect().map(_.getLong(0)).toSet
    val recall = ivf.count(exact.contains).toDouble / exact.size
    info(s"K18 sf0.01 recall@5 = $recall")
    assert(recall >= 0.4, s"K18 sf0.01 recall@5 $recall below the pinned floor")
  }

  test("K67 sim_nsw_topk: recall@5 vs the oracle-checked exact sim_topk") {
    // deterministic (seeded k-means cells, fixed fixture, exact-cosine
    // beam): the beam search scores <= entries + Hops*Beam*M nodes; at
    // sf0.001 that approaches the 500-vector corpus (near-exhaustive —
    // measured 1.0), at sf0.01 it is a ~15% probe of 5000 (measured
    // 0.6) — pinned as regression floors per scale. At sf0.1 (a ~4%
    // probe of 20000 ISOTROPIC vectors) recall is honestly ~0 — random
    // data has no navigable neighborhood structure for the greedy walk
    // to exploit (the IVFPQ nprobe-2 precedent); the sf0.1-scale
    // mechanics are pinned by the planted-duplicate test below, where
    // the S-curve actually promises a signal (cos → 1).
    val floors = Seq(sfDir -> 0.8, "/root/testdata/sf0.01" -> 0.4)
    for ((dir, floor) <- floors) {
      val exact = LlmData.simTopk(spark, dir).collect().map(_.getLong(0)).toSet
      val nsw = LlmData.simNswTopk(spark, dir).collect().map(_.getLong(0)).toSet
      val recall = nsw.count(exact.contains).toDouble / exact.size
      info(s"K67 $dir recall@5 = $recall (nsw=$nsw exact=$exact)")
      assert(recall >= floor, s"K67 $dir recall@5 $recall below floor $floor")
    }
  }

  test("K67 sim_nsw_topk: a planted duplicate is found against the full " +
      "sf0.1 corpus background (20k vectors)") {
    import org.apache.spark.sql.functions._
    val base = graft.ops.Util.t(spark, "/root/testdata/sf0.1", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val q = base.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0)
    // plant a scaled copy of the query under a fresh id; the scaled
    // copy shares the query's cell and must be navigated to
    val planted = base.unionByName(
      base.filter(col("vec_id") === 0L)
        .select(lit(999999L).as("vec_id"),
          transform(col("embedding"),
            x => (x * lit(1.0005f)).cast("float")).as("embedding")))
    val dir = SparkTestBase.tempDir("graft_nsw_gt_")
    planted.write.mode("overwrite").parquet(s"$dir/corpus.parquet")
    val graph = graft.ops.AnnHnsw.ensureIndex(spark, planted,
      "vec_id", "embedding", s"$dir/corpus")
    val top = graft.ops.AnnNsw.searchTopK(spark, graph, planted,
      "vec_id", "embedding", q, 5, excludeId = Some(0L)).collect()
    assert(top.nonEmpty && top.head.getLong(0) == 999999L,
      s"planted duplicate must lead at sf0.1 scale, got ${top.toSeq}")
    assert(top.head.getDouble(1) == 1.0)
  }

  test("K54 sim_pq_topk: recall@5 vs the oracle-checked exact sim_topk") {
    // deterministic (seeded per-subspace k-means, fixed fixture):
    // ADC from 8x16 codes is a coarse but unbiased distance estimate;
    // measured on the fixture and pinned as the regression floor
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val exact = LlmData.simTopk(spark, dir).collect().map(_.getLong(0)).toSet
      val pq = LlmData.simPqTopk(spark, dir).collect().map(_.getLong(0)).toSet
      val recall = pq.count(exact.contains).toDouble / exact.size
      info(s"K54 $dir recall@5 = $recall (pq=$pq exact=$exact)")
      // measured 2/5 at every fixture scale with the 16x16 geometry
      // (codes-only ADC on the near-uniform random fixture — the same
      // floor the IVF rung pins); planted-structure recall is pinned
      // at 1.0 in AnnPqSpec
      assert(recall >= 0.4, s"K54 $dir recall@5 $recall below floor")
    }
  }

  test("K57 sim_ivfpq_topk: equals PQ-ADC ranking restricted to the probed cells") {
    // on the isotropic random fixture the compounded losses (2/16-cell
    // pruning x ADC noise) honestly give recall ~0 — same finding as
    // the round-9 IVF nprobe-2 pin — so the binding check is the exact
    // STRUCTURAL law: the composed index must rank precisely as the
    // flat PQ index would over the IVF-surviving candidates (planted-
    // structure recall is pinned in AnnPqSpec where structure exists)
    import graft.ops.{AnnIvf, AnnPq}
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      val df = Util.t(spark, dir, "embeddings")
      val dim = df.select(size(col("embedding"))).head().getInt(0)
      val src = s"$dir/embeddings"
      val (_, books, model) = AnnPq.ensureIvfPqIndex(
        spark, df, "vec_id", "embedding", src, dim)
      val qVec = df.filter(col("vec_id") === 0L)
        .select(col("embedding")).head().getSeq[Float](0)
      val cells = AnnIvf.probeCells(qVec, model)
      val members = spark.read
        .parquet(AnnIvf.assignedPath(AnnIvf.indexCacheDir(spark, src)))
        .filter(col("cell").isin(cells: _*)).select(col("vec_id"))
      val pqDir = AnnPq.ensureIndex(spark, df, "vec_id", "embedding", src, dim)
      val restricted = AnnPq.topKFromCodes(
        spark.read.parquet(s"$pqDir/codes").join(members, Seq("vec_id")),
        "vec_id", qVec, books, 5, excludeId = Some(0L))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val ivfpq = LlmData.simIvfPqTopk(spark, dir)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val exact = LlmData.simTopk(spark, dir).collect().map(_.getLong(0)).toSet
      val recall = ivfpq.count(p => exact.contains(p._1)).toDouble / exact.size
      info(s"K57 $dir recall@5 = $recall (structural law binding)")
      assert(ivfpq == restricted,
        s"$dir: ivfpq $ivfpq != cell-restricted PQ ranking $restricted")
    }
  }

  test("D17 agg_heavy_hitters: CMS never under-counts; over-count within the eps*N bound") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val est = Util.t(spark, dir, "documents") // exact truth per probe
      val toks = est.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("token"))
      val n = toks.count()
      val exact = toks.groupBy("token").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = SparkEntry.queries("agg_heavy_hitters")(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1))
      assert(got.nonEmpty)
      got.foreach { case (tok, e) =>
        val t = exact.getOrElse(tok, 0L)
        assert(e >= t, s"$dir/$tok: CMS must never under-count ($e < $t)")
        assert(e <= t + (0.0005 * n).ceil.toLong,
          s"$dir/$tok: over-count $e beyond eps*N of exact $t (N=$n)")
      }
    }
  }

  test("K13 + K18: recall@5 holds at bench scale (sf0.1, 2000 vectors)") {
    // the largest fixture distribution (r8 verdict task 8): brute-force
    // exact top-5 over all 2000 embeddings, then both ANN paths against
    // it — deterministic (fixed hyperplanes / seeded k-means), measured
    // once and pinned
    val dir = "/root/testdata/sf0.1"
    val exact = LlmData.simTopk(spark, dir).collect().map(_.getLong(0)).toSet
    val ann = LlmData.simAnnTopk(spark, dir).collect().map(_.getLong(0)).toSet
    val annRecall = ann.count(exact.contains).toDouble / exact.size
    info(s"K13 sf0.1 recall@5 = $annRecall")
    assert(annRecall >= 0.6, s"K13 sf0.1 recall@5 $annRecall below the pinned floor")
    // K18 at nprobe=2 of 16 on 2000 ISOTROPIC vectors: expected recall
    // is ~probes/K (no cluster structure for the quantizer to exploit —
    // true cosine neighbors of a random query scatter uniformly across
    // cells), measured 0/5 here; the honest pin is the nprobe dial, not
    // a lucky floor. Record the default, then pin the curve:
    import graft.ops.AnnIvf
    val df = graft.ops.Util.t(spark, dir, "embeddings")
    val cache = AnnIvf.ensureIndex(spark, df, "vec_id", "embedding",
      s"$dir/embeddings")
    val model = AnnIvf.loadCodebook(AnnIvf.codebookPath(cache))
    val qVec = df.filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0)
    def recallAt(probes: Int): Double = {
      val got = AnnIvf.probeIndex(spark, AnnIvf.assignedPath(cache),
          "vec_id", "embedding", qVec, 5, model,
          excludeId = Some(0L), probes = probes)
        .collect().map(_.getLong(0)).toSet
      got.count(exact.contains).toDouble / exact.size
    }
    val r2 = recallAt(2); val r8 = recallAt(8); val r16 = recallAt(AnnIvf.K)
    info(s"K18 sf0.1 recall@5: nprobe=2 → $r2, nprobe=8 → $r8, nprobe=16 → $r16")
    // the dial must be monotone where it matters, and exhaustive
    // probing MUST reproduce brute force exactly — proving the index
    // holds every vector and the re-rank is exact
    assert(r16 == 1.0, s"exhaustive probe must equal brute force, got $r16")
    assert(r8 >= r2, s"recall must not fall as nprobe grows: $r2 -> $r8")
    assert(r8 >= 0.6, s"K18 sf0.1 recall@5 at nprobe=8 was $r8, below the pinned floor")
  }
  test("K87 sim_hnsw_batch_topk: mean batch recall@5 vs per-query brute force") {
    import org.apache.spark.sql.expressions.Window
    val floors = Seq(sfDir -> 0.7, "/root/testdata/sf0.01" -> 0.7)
    for ((dir, floor) <- floors) {
      val emb = graft.ops.Util.t(spark, dir, "embeddings")
      val batch = LlmData.simHnswBatchTopk(spark, dir).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      // brute force per query: bounded queries × corpus score join
      val q = emb.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val truth = q.join(emb.select(col("vec_id").as("nid"),
          col("embedding").as("nv")), col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          graft.ops.AnnLsh.cosine(col("qv").cast("array<double>"),
            col("nv").cast("array<double>")).as("s"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("s").desc, col("nid"))))
        .filter(col("rk") <= 5)
        .collect().groupBy(_.getLong(0))
        .map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
      assert(batch.keySet == truth.keySet,
        s"every query must be answered: ${batch.keySet} vs ${truth.keySet}")
      val recalls = truth.map { case (k, exact) =>
        batch(k).count(exact.contains).toDouble / exact.size }
      val mean = recalls.sum / recalls.size
      info(s"K87 $dir mean batch recall@5 = $mean over ${recalls.size} queries")
      assert(mean >= floor, s"K87 $dir mean recall $mean below floor $floor")
    }
  }

  test("K89 sim_hnsw_incremental: inserted-index recall@5 tracks the " +
      "full rebuild (insert-equals-rebuild floor)") {
    // the incremental index (base = 90% of the corpus, 10% batch
    // inserted by descent) must answer the SAME probe set with recall
    // close to the fully rebuilt index — if insertion under-wires the
    // batch, recall collapses on queries whose true neighbors are new
    for (dir <- Seq(sfDir, "/root/testdata/sf0.01")) {
      def topSets(rows: Array[org.apache.spark.sql.Row]) =
        rows.groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
      val incr = topSets(LlmData.simHnswIncremental(spark, dir).collect())
      val full = topSets(LlmData.simHnswBatchTopk(spark, dir).collect())
      assert(incr.keySet == full.keySet)
      val overlaps = full.map { case (q, f) =>
        incr(q).count(f.contains).toDouble / f.size }
      val mean = overlaps.sum / overlaps.size
      info(s"K89 $dir mean insert-vs-rebuild overlap@5 = $mean " +
        s"over ${overlaps.size} queries")
      assert(mean >= 0.5,
        s"K89 $dir insert-vs-rebuild overlap $mean below the 0.5 floor")
    }
  }

  test("K79 sim_hnsw_topk: recall@5 vs the oracle-checked exact sim_topk") {
    // deterministic like K67 (measured 1.0 / 0.6 — identical to the
    // flat NSW probe on these isotropic fixtures, which is the honest
    // expectation: the hierarchy pays off in navigation HOPS, and on
    // structureless random vectors recall is bounded by probe volume,
    // not entry quality). Floors pinned one notch under measurement
    // as regression guards, the K67 discipline.
    val floors = Seq(sfDir -> 0.8, "/root/testdata/sf0.01" -> 0.4)
    for ((dir, floor) <- floors) {
      val exact = LlmData.simTopk(spark, dir).collect().map(_.getLong(0)).toSet
      val hnsw = LlmData.simHnswTopk(spark, dir).collect().map(_.getLong(0)).toSet
      val recall = hnsw.count(exact.contains).toDouble / exact.size
      info(s"K79 $dir recall@5 = $recall (hnsw=$hnsw exact=$exact)")
      assert(recall >= floor, s"K79 $dir recall@5 $recall below floor $floor")
    }
  }

}
