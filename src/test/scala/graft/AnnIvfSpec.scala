package graft

import graft.ops.AnnIvf

/** IVF ANN: the trained coarse quantizer must route a planted
  * duplicate of the query into a probed cell and rank it first. */
class AnnIvfSpec extends SparkTestBase {

  private def vecsDf(vs: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    vs.toDF("vec_id", "embedding")
  }

  private def randomVecs(n: Int, seed: Long): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(64)(rnd.nextGaussian().toFloat))
  }

  test("a planted scaled copy of the query is hit #1 with cosine 1") {
    val q = randomVecs(1, 51).head
    val copy = q.map(_ * 1.0005f)
    val noise = randomVecs(80, 52)
    val df = vecsDf(Seq(0L -> q, 1L -> copy) ++
      noise.zipWithIndex.map { case (v, i) => (10L + i) -> v })
    val top = AnnIvf.ivfTopK(df, "vec_id", "embedding", 0L, 5).collect()
    assert(top.nonEmpty)
    assert(top.head.getLong(0) == 1L)
    assert(top.head.getDouble(1) == 1.0)
  }

  test("probing 2 of 16 cells returns a bounded candidate set with valid scores") {
    val vs = randomVecs(100, 61)
    val df = vecsDf(vs.zipWithIndex.map { case (v, i) => i.toLong -> v })
    val top = AnnIvf.ivfTopK(df, "vec_id", "embedding", 0L, 5).collect()
    assert(top.length <= 5)
    assert(top.forall(r => r.getDouble(1) >= -1.0 && r.getDouble(1) <= 1.0))
    assert(top.forall(_.getLong(0) != 0L))
  }

  test("a saved+loaded codebook answers queries identically (offline index build)") {
    val vs = randomVecs(60, 77)
    val df = vecsDf(vs.zipWithIndex.map { case (v, i) => i.toLong -> v })
    val fitted = AnnIvf.codebook(df, "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
    AnnIvf.saveCodebook(fitted, s"$dir/codebook")
    val loaded = AnnIvf.loadCodebook(s"$dir/codebook")
    val a = AnnIvf.ivfTopK(df, "vec_id", "embedding", 0L, 5, fitted).collect().toSeq
    val b = AnnIvf.ivfTopK(df, "vec_id", "embedding", 0L, 5, loaded).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("sim_ivf_topk query executes on the fixture corpus") {
    val out = ops.LlmData.simIvfTopk(spark, sfDir).collect()
    assert(out.length <= 5)
    assert(out.forall(_.getLong(0) != 0L))
  }

  test("materialized index probe equals the transform-per-call path row for row") {
    val vs = randomVecs(120, 91)
    val df = vecsDf(vs.zipWithIndex.map { case (v, i) => i.toLong -> v })
    val model = AnnIvf.codebook(df, "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_idx_").toString
    AnnIvf.buildIndex(df, "vec_id", "embedding", model, s"$dir/assigned")
    val qVec = vs.head
    val direct = AnnIvf.ivfTopK(df, "vec_id", "embedding", 0L, 7, model)
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    val indexed = AnnIvf.probeIndex(spark, s"$dir/assigned", "vec_id",
        "embedding", qVec, 7, model, excludeId = Some(0L))
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
    assert(indexed == direct && indexed.nonEmpty)
  }

  test("ensureIndex builds once, is served from the marker thereafter, and pins recall") {
    val vs = randomVecs(90, 101)
    val q = vs.head
    val copy = q.map(_ * 1.0003f)
    val df = vecsDf(Seq(0L -> q.toSeq, 1L -> copy.toSeq) ++
      vs.tail.zipWithIndex.map { case (v, i) => (10L + i) -> v })
    // the cache is anchored at a source dir whose parquet is its content
    val src = java.nio.file.Files.createTempDirectory("graft_ivf_ens_").toString + "/emb"
    df.write.parquet(s"$src.parquet")
    val dir = AnnIvf.ensureIndex(spark, df, "vec_id", "embedding", src, 1.0)
    assert(dir == AnnIvf.indexCacheDir(spark, src))
    assert(new java.io.File(dir, graft.ops.FixtureCache.Marker).exists())
    val m1 = AnnIvf.loadCodebook(AnnIvf.codebookPath(dir))
    // second call must be served from the marker, never refit: any
    // execution of this frame raises
    val poisoned = df.filter(
      org.apache.spark.sql.functions.raise_error(
        org.apache.spark.sql.functions.lit("index rebuilt")).isNull)
    assert(AnnIvf.ensureIndex(spark, poisoned, "vec_id", "embedding", src, 1.0) == dir)
    val m2 = AnnIvf.loadCodebook(AnnIvf.codebookPath(dir))
    val top = AnnIvf.probeIndex(spark, AnnIvf.assignedPath(dir),
      "vec_id", "embedding", q, 5, m2, excludeId = Some(0L)).collect()
    assert(top.head.getLong(0) == 1L, "planted near-copy must rank first")
    assert(m1.clusterCenters.toSeq == m2.clusterCenters.toSeq)
  }
}
