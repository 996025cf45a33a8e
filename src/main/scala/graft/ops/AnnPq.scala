package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) approximate nearest neighbors — the
  * compressed-codes rung after the IVF-Flat of [[AnnIvf]], following
  * the public FAISS design (Jégou, Douze, Schmid, "Product
  * quantization for nearest neighbor search", TPAMI 2011): split each
  * D-dim vector into `M` subvectors, quantize every subvector against
  * its own `KSub`-centroid codebook, and store only the M code bytes.
  * Queries score candidates with Asymmetric Distance Computation
  * (ADC): a per-query distance TABLE (M × KSub scalar distances,
  * computed driver-side) turns each candidate's distance into M table
  * lookups over its codes — the raw vectors are never read in the
  * query path.
  *
  * Why this exists at 100 TB: IVF-Flat re-ranks with exact vectors,
  * so the vectors themselves must be stored and shipped. With M=16,
  * KSub=16 a 64-dim float vector (256 B) compresses to 16 4-bit codes
  * (8 B, stored here as 16 small ints for parquet friendliness) — a
  * 32× reduction that makes the candidate set memory-resident at
  * scales where the vectors are the payload. The codebooks are
  * M × KSub × (D/M) doubles (~8 KB here) — a driver-side literal,
  * like [[AnnIvf]]'s centers; the encode pass is one narrow
  * codegen'd projection (no UDF, no shuffle); the ADC scan reads only
  * the codes column.
  *
  * Vectors are unit-normalized before both fit and encode, so ADC
  * squared-L2 on unit vectors is monotone with cosine
  * (||a−b||² = 2 − 2·cos) and the reported score is the approximate
  * cosine `1 − d/2` — directly comparable with the brute-force
  * [[graft.functions.CosineSim]] family. Composes with IVF: encode
  * the IVF assignment table and ADC-score only the probed cells
  * (FAISS IVFPQ); registered standalone here so the code path is
  * exercised without coupling the two indexes.
  *
  * Registered rows-only (seeded k-means codebooks aren't portable
  * SQL); self-minimum / planted-duplicate / ADC-consistency laws are
  * pinned in `AnnPqSpec`, rank agreement with brute force in
  * `GroundTruthSpec`.
  */
object AnnPq {
  /** Subquantizer count: D must be divisible by M. */
  val M = 16
  /** Centroids per subquantizer (4-bit codes in the FAISS layout). */
  val KSub = 16
  /** Sampled-fit fraction — the codebook fit needs only enough points
    * per centroid, never the full table (same discipline as
    * [[AnnIvf.FitSampleFraction]]). */
  val FitSampleFraction = 0.5

  /** centers(j)(k) = the k-th centroid of subquantizer j (D/M dims). */
  type Codebooks = Array[Array[Array[Double]]]

  /** Unit-L2 normalization as a codegen'd expression; a zero vector
    * stays zero instead of dividing by zero. */
  def normalized(vec: Column): Column = {
    val n = sqrt(aggregate(vec, lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    transform(vec, x =>
      when(n > 0d, x.cast("double") / n).otherwise(0.0d))
  }

  /** Fit the M per-subspace codebooks on a seeded sample: one cached
    * slice frame, M seeded k-means fits (each a handful of jobs over
    * the cached sample — Lloyd re-reads its input every iteration,
    * which is why the cache). `sampleFraction = 1.0` fits on
    * everything — only sensible for tiny inputs and unit tests. */
  def fitCodebooks(df: DataFrame, vecCol: String, dim: Int,
      sampleFraction: Double = 1.0, seed: Long = 7L): Codebooks = {
    require(dim % M == 0, s"dim $dim not divisible by M=$M")
    val dsub = dim / M
    val base =
      if (sampleFraction < 1.0) df.sample(withReplacement = false, sampleFraction, seed)
      else df
    val vn = normalized(col(vecCol))
    val slices = base.select((0 until M).map(j =>
      array_to_vector(slice(vn, j * dsub + 1, dsub)).as(s"s$j")): _*).cache()
    try
      (0 until M).map { j =>
        new KMeans()
          .setK(KSub).setSeed(1L).setMaxIter(8)
          .setFeaturesCol(s"s$j").setPredictionCol("p")
          .fit(slices)
          .clusterCenters.map(_.toArray)
      }.toArray
    finally { slices.unpersist(); () }
  }

  /** Nearest-centroid code of an (already normalized) subvector as a
    * pure expression: KSub literal-center squared distances, argmin
    * via `array_position(dists, array_min(dists))` — ties break to the
    * lowest code deterministically. All codegen'd; the centers are
    * literals, so nothing is shipped per row. */
  def nearestCode(sub: Column, centers: Array[Array[Double]]): Column = {
    val dists = centers.map { c =>
      aggregate(
        zip_with(sub, array(c.map(lit).toIndexedSeq: _*),
          (a, b) => (a - b) * (a - b)),
        lit(0.0d), (acc, x) => acc + x)
    }
    val dArr = array(dists.toIndexedSeq: _*)
    (array_position(dArr, array_min(dArr)) - 1).cast("int")
  }

  /** Encode every vector to its M codes — the offline compression
    * pass, one narrow projection (the 100-TB story: this is the ONLY
    * pass that ever reads the raw vectors; everything downstream reads
    * 4–8 B of codes per vector). Expression formulation — the
    * readable reference semantics; [[encodeNative]] is the codegen'd
    * production path, pinned bit-identical in `AnnPqSpec`. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      books: Codebooks): DataFrame = {
    val dsub = books(0)(0).length
    df.select(col(idCol), normalized(col(vecCol)).as("vn"))
      .select(col(idCol),
        array((0 until M).map(j =>
          nearestCode(slice(col("vn"), j * dsub + 1, dsub), books(j)))
          .toIndexedSeq: _*).as("codes"))
  }

  /** Codegen'd encode via [[graft.functions.PqCodes]] — one fused
    * per-row loop instead of M × KSub interpreted `aggregate` lambdas
    * (the higher-order functions run interpreted; this pass reads
    * every raw vector of the corpus, so it must stay inside
    * whole-stage codegen). Bit-identical to [[encode]] by the shared
    * fold-order/tie-break contract. */
  def encodeNative(df: DataFrame, idCol: String, vecCol: String,
      books: Codebooks): DataFrame =
    df.select(col(idCol),
      graft.functions.PqCodes(col(vecCol).cast("array<double>"), books, KSub)
        .as("codes"))

  /** Driver-side ADC table for one query: dt(j)(k) = squared L2 from
    * the query's j-th (normalized) subvector to centroid k of
    * subquantizer j. M × KSub scalar distances — never a Spark job. */
  def adcTable(qVec: Seq[Float], books: Codebooks): Array[Array[Double]] = {
    val q = qVec.map(_.toDouble).toArray
    val nrm = math.sqrt(q.map(x => x * x).sum)
    val qn = if (nrm > 0) q.map(_ / nrm) else q
    val dsub = books(0)(0).length
    books.zipWithIndex.map { case (cb, j) =>
      val qj = qn.slice(j * dsub, (j + 1) * dsub)
      cb.map(c => c.zip(qj).map { case (a, b) => (a - b) * (a - b) }.sum)
    }
  }

  /** ADC squared distance of a codes column under a query's table:
    * M literal-array lookups, summed — the entire per-candidate cost. */
  def adcDistance(codesCol: Column, dt: Array[Array[Double]]): Column =
    dt.zipWithIndex.map { case (row, j) =>
      element_at(array(row.map(lit).toIndexedSeq: _*),
        element_at(codesCol, j + 1) + 1)
    }.reduce(_ + _)

  /** Top-k by ADC from a codes table (codes only — no vectors in the
    * query path). Score = approximate cosine `1 − d/2` (unit-vector
    * identity), rounded to 6 dp; ties break by id. */
  def topKFromCodes(codes: DataFrame, idCol: String, qVec: Seq[Float],
      books: Codebooks, k: Int, excludeId: Option[Long] = None): DataFrame = {
    val base = excludeId.fold(codes)(q => codes.filter(col(idCol) =!= q))
    base.select(col(idCol),
        round(lit(1.0d) - adcDistance(col("codes"), adcTable(qVec, books)) / 2d, 6)
          .as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Persist codebooks as a tiny (M × KSub rows) parquet relation —
    * loadable from any executor-visible FS, like
    * [[AnnIvf.saveCodebook]]. */
  def saveCodebooks(spark: SparkSession, books: Codebooks, path: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, k) => (j, k, c.toSeq) }
    }.toSeq.toDF("j", "k", "center")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load persisted codebooks (bounded M × KSub collect — metadata,
    * not data). */
  def loadCodebooks(spark: SparkSession, path: String): Codebooks = {
    val rows = spark.read.parquet(path)
      .select(col("j"), col("k"), col("center"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    rows.groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, cs) => cs.sortBy(_._2).map(_._3) }
  }

  /** Build-once PQ index for a fixture table: fit sampled codebooks,
    * encode the corpus, commit both under a content-keyed cache dir
    * via [[FixtureCache.ensure]]'s staging+rename discipline (crashed
    * builds rebuilt, racing builds resolved to one committed copy).
    * Returns the committed dir; `codebook/` and `codes/` live under
    * it. */
  def ensureIndex(spark: SparkSession, df: DataFrame, idCol: String,
      vecCol: String, sourceDir: String, dim: Int): String =
    // the cache name versions the quantization geometry AND the fit
    // recipe: any change to M/KSub/sampling must miss, never serve
    // stale codes from a warm host
    FixtureCache.ensure(spark, s"pq_index_m${M}x${KSub}_v1", sourceDir,
      Seq(s"$sourceDir.parquet")) { staging =>
      val books = fitCodebooks(df, vecCol, dim, FitSampleFraction)
      saveCodebooks(spark, books, s"$staging/codebook")
      encodeNative(df, idCol, vecCol, books)
        .write.mode("overwrite").parquet(s"$staging/codes")
    }

  /** Build-once IVFPQ index (the FAISS IVFPQ composition): the PQ
    * codes stored IN the inverted lists — the cell-assigned corpus
    * ([[AnnIvf.ensureIndex]]'s table) re-encoded to codes and written
    * PARTITIONED BY cell, so a probe reads only the probed cells'
    * partition directories AND only 8 B of codes per candidate. This
    * is the full 100-TB serving shape: IVF prunes WHICH vectors are
    * scored, PQ makes scoring them independent of the raw vectors.
    * Shares the PQ codebooks of [[ensureIndex]] (one quantizer per
    * corpus — the SemDeDup shared-artifact discipline). Returns
    * (ivfpq lists path, codebooks, IVF model). */
  def ensureIvfPqIndex(spark: SparkSession, df: DataFrame, idCol: String,
      vecCol: String, sourceDir: String, dim: Int)
      : (String, Codebooks, org.apache.spark.ml.clustering.KMeansModel) = {
    val ivfDir = AnnIvf.ensureIndex(spark, df, idCol, vecCol, sourceDir)
    val model = AnnIvf.loadCodebook(AnnIvf.codebookPath(ivfDir))
    val pqDir = ensureIndex(spark, df, idCol, vecCol, sourceDir, dim)
    val books = loadCodebooks(spark, s"$pqDir/codebook")
    // the name versions BOTH upstream geometries: a changed coarse
    // quantizer (AnnIvf.K) or PQ geometry must miss, never serve
    // stale inverted lists
    val dir = FixtureCache.ensure(spark,
      s"ivfpq_m${M}x${KSub}_c${AnnIvf.K}_v1", sourceDir,
      Seq(s"$sourceDir.parquet")) { staging =>
      // one narrow pass: id + codes + cell straight off the assigned
      // table (no self-join — the encode is a per-row projection)
      spark.read.parquet(AnnIvf.assignedPath(ivfDir))
        .select(col(idCol),
          graft.functions.PqCodes(col(vecCol).cast("array<double>"),
            books, KSub).as("codes"),
          col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$staging/lists")
    }
    (s"$dir/lists", books, model)
  }

  /** IVFPQ probe: partition-prune to the `probes` nearest cells, then
    * ADC-score the surviving codes — no raw vector is read anywhere
    * in the query path. */
  def ivfPqTopK(spark: SparkSession, listsPath: String, idCol: String,
      qVec: Seq[Float], books: Codebooks,
      model: org.apache.spark.ml.clustering.KMeansModel, k: Int,
      excludeId: Option[Long] = None, probes: Int = AnnIvf.Probes): DataFrame =
    topKFromCodes(
      spark.read.parquet(listsPath)
        .filter(col("cell").isin(AnnIvf.probeCells(qVec, model, probes): _*)),
      idCol, qVec, books, k, excludeId)
}
