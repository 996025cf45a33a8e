package graft.ops

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbors — the trained
  * coarse-quantizer alternative to the sign-LSH of [[AnnLsh]]:
  * a seeded k-means codebook partitions the vectors into K cells, each
  * query probes only the `Probes` nearest cells and re-ranks the
  * bucket members with exact cosine (the IVF-Flat design of the public
  * FAISS literature, Johnson et al., "Billion-scale similarity search
  * with GPUs", 2017).
  *
  * Scale shape: the codebook is fit ONCE on a seeded sample (k-means
  * needs only enough points to place K centers — at 100 TB that is a
  * thin sample, never the full table; the fit input is cached because
  * Lloyd's algorithm re-reads it every iteration) and is then a
  * driver-side parameter to every query. The index build
  * ([[buildIndex]]) assigns a cell to every vector ONCE (one narrow
  * MLlib transform) and writes the assignment table PARTITIONED BY
  * `cell`, so the online probe ([[probeIndex]]) reads only the
  * `Probes` matching partition directories — `cell IN (...)` is a
  * partition filter, never a per-row predicate over the full corpus
  * (pinned by the `numPartitions` scan metric in `PlanAuditSpec`).
  * The transform-per-call [[ivfTopK]] form stays as the index-free
  * path for in-memory inputs and unit tests. Seeded, so one codebook
  * is self-consistent; cross-run cell ids are an implementation detail
  * (the op is registered rows-only and pinned by planted-neighbor
  * tests in `AnnIvfSpec`).
  */
object AnnIvf {
  val K = 16
  val Probes = 2
  /** Fixture-scale sample for the codebook fit — enough points per
    * center (500 × 0.25 ≈ 8/cell) while keeping the fit off the full
    * table, mirroring the production sampled-fit shape. */
  val FitSampleFraction = 0.25

  /** Seeded k-means codebook over a (seeded) sample of the embedding
    * column. `sampleFraction = 1.0` fits on everything — only sensible
    * for tiny inputs and unit tests. */
  def codebook(df: DataFrame, vecCol: String,
      sampleFraction: Double = 1.0, seed: Long = 1L): KMeansModel = {
    val base =
      if (sampleFraction < 1.0) df.sample(withReplacement = false, sampleFraction, seed)
      else df
    val fit = base.select(array_to_vector(col(vecCol)).as("fv")).cache()
    // k-means|| init places centers near-converged, so few Lloyd
    // iterations are needed; each iteration is one Spark job over the
    // cached sample, so the cap is latency, not quality
    try
      new KMeans()
        .setK(K).setSeed(1L).setMaxIter(5)
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(fit)
    finally { fit.unpersist(); () }
  }

  /** Approximate top-k neighbors of `queryId` under a pre-fit codebook:
    * probe the `Probes` nearest cells, re-rank with exact cosine. The
    * query itself only assigns + probes — no training in the query
    * path. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, model: KMeansModel): DataFrame = {
    val qVec = AnnLsh.queryVector(df, idCol, vecCol, queryId)
    rerank(assign(df, idCol, vecCol, model)
        .filter(col("cell").isin(probeCells(qVec, model): _*)),
      idCol, vecCol, qVec, k, excludeId = Some(queryId))
  }

  /** Driver-side: the `probes` centers nearest to the query vector —
    * K scalar distance computations, never a Spark job. `probes` is
    * the IVF recall dial (FAISS `nprobe`): more probed cells read more
    * partitions and recover more of the true neighbors; `probes = K`
    * is exhaustive and must reproduce brute force exactly (pinned in
    * `GroundTruthSpec` at sf0.1). */
  def probeCells(qVec: Seq[Float], model: KMeansModel,
      probes: Int = Probes): Seq[Int] = {
    val qArr = qVec.map(_.toDouble).toArray
    model.clusterCenters.zipWithIndex
      .map { case (c, i) =>
        val d = c.toArray.zip(qArr)
          .map { case (a, b) => (a - b) * (a - b) }.sum
        (i, d)
      }
      .sortBy { case (i, d) => (d, i) }
      .take(probes).map(_._1).toIndexedSeq
  }

  /** Exact-cosine re-rank of a candidate frame — the answer frame of
    * every cosine ANN probe: (idCol, score rounded to 6 dp), best
    * first, fully tie-broken by id, top-k. */
  private[ops] def rerank(candidates: DataFrame, idCol: String, vecCol: String,
      qVec: Seq[Float], k: Int, excludeId: Option[Long]): DataFrame = {
    val qLit = array(qVec.map(lit).toIndexedSeq: _*)
    excludeId.fold(candidates)(q => candidates.filter(col(idCol) =!= q))
      .select(col(idCol),
        round(AnnLsh.cosine(col(vecCol).cast("array<double>"),
          qLit.cast("array<double>")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Offline index build: assign every vector its cell ONCE and write
    * the assignment table partitioned by `cell`. This is the IVF-Flat
    * inverted file itself — the corpus re-laid-out by posting list, the
    * standard storage trade of the FAISS design. One narrow transform +
    * one write; after this no query ever re-assigns the corpus. */
  def buildIndex(df: DataFrame, idCol: String, vecCol: String,
      model: KMeansModel, path: String): Unit =
    assign(df, idCol, vecCol, model)
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Each vector's cell under `model`: (idCol, vecCol, cell) — one
    * narrow MLlib transform. */
  def assign(df: DataFrame, idCol: String, vecCol: String,
      model: KMeansModel): DataFrame =
    model.transform(df.withColumn("fv", array_to_vector(col(vecCol))))
      .select(col(idCol), col(vecCol), col("cell"))

  /** Online probe against a materialized index: read ONLY the `Probes`
    * partition directories (`cell IN (...)` is a partition filter —
    * directory-level skip, ~Probes/K of the data touched), then exact-
    * cosine re-rank. The query vector is a caller-supplied parameter,
    * as in a real ANN serving path. */
  def probeIndex(spark: SparkSession, indexPath: String, idCol: String,
      vecCol: String, qVec: Seq[Float], k: Int, model: KMeansModel,
      excludeId: Option[Long] = None, probes: Int = Probes): DataFrame =
    rerank(
      spark.read.parquet(indexPath)
        .filter(col("cell").isin(probeCells(qVec, model, probes): _*)),
      idCol, vecCol, qVec, k, excludeId)

  /** Convenience form: sampled-seeded fit, then assign + probe. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame =
    ivfTopK(df, idCol, vecCol, queryId, k,
      codebook(df, vecCol, FitSampleFraction))

  /** Persist a fitted codebook — the offline index-build artifact of a
    * production IVF deployment (fit once on a sample, save, serve every
    * query from the loaded model; the fit never runs in the query
    * path). MLlib-native persistence: metadata + centers land under
    * `path` as parquet, loadable from any executor-visible FS. */
  def saveCodebook(model: KMeansModel, path: String): Unit =
    model.write.overwrite().save(path)

  /** Load a persisted codebook for the online query path
    * ([[ivfTopK]]). Round-trip identity is pinned in `AnnIvfSpec`. */
  def loadCodebook(path: String): KMeansModel = KMeansModel.load(path)

  private val IndexName = "ivf_index_v1"

  /** Deterministic per-fixture cache dir of [[ensureIndex]] — keyed
    * by the source path AND the source parquet's content identity
    * ([[FixtureCache.contentKey]]), so a fixture regenerated in place
    * gets a fresh index instead of stale cell assignments. */
  def indexCacheDir(spark: SparkSession, sourceDir: String): String =
    FixtureCache.cacheDir(spark.sessionState.newHadoopConf(),
      IndexName, sourceDir, Seq(s"$sourceDir.parquet"))

  /** Build-once index bootstrap through [[FixtureCache.ensure]] (crashed
    * builds rebuilt, racing builds resolved to one committed copy): on a
    * miss, fit the sampled codebook, persist it and write the
    * cell-partitioned assignment table. Returns the committed dir
    * ([[indexCacheDir]]); the model is `loadCodebook(codebookPath(dir))`,
    * the assignment table `assignedPath(dir)`. */
  def ensureIndex(spark: SparkSession, df: DataFrame, idCol: String,
      vecCol: String, sourceDir: String,
      sampleFraction: Double = FitSampleFraction): String =
    FixtureCache.ensure(spark, IndexName, sourceDir,
      Seq(s"$sourceDir.parquet")) { staging =>
      val model = codebook(df, vecCol, sampleFraction)
      saveCodebook(model, codebookPath(staging))
      buildIndex(df, idCol, vecCol, model, assignedPath(staging))
    }

  def codebookPath(cacheDir: String): String = s"$cacheDir/codebook"
  def assignedPath(cacheDir: String): String = s"$cacheDir/assigned"

  /** The committed assignment table of [[ensureIndex]] as
    * (idCol, vecCol, cell). Read back, `cell` is an inferred partition
    * column placed last, so the columns are selected by name. */
  def readAssigned(spark: SparkSession, cacheDir: String, idCol: String,
      vecCol: String): DataFrame =
    spark.read.parquet(assignedPath(cacheDir))
      .select(col(idCol), col(vecCol), col("cell"))
}
