package graft

import graft.ops.LlmData

/** Shared pair-set materialization: the production dedup chain
  * computes the K6 pair relation once, persists it, and serves every
  * composition from the store. Each `*FromPairs` variant must be
  * row-identical to its self-contained registered query, and the
  * amortized chain must not silently diverge from the per-query plans
  * the oracle checks. */
class MaterializedPairsSpec extends SparkTestBase {

  private lazy val pairsDir = {
    val d = java.nio.file.Files.createTempDirectory("graft_pairs_").toString
    LlmData.materializePairs(spark, sfDir, d)
    d
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("materialized pairs equal the inline K6 pair relation") {
    val stored = rows(LlmData.pairsFrom(spark, pairsDir)
      .orderBy("doc_a", "doc_b"))
    val inline = rows(SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir))
    assert(stored == inline)
  }

  test("dedup_clusters from the store equals the self-contained query") {
    val shared = rows(LlmData.dedupClustersFromPairs(
      LlmData.pairsFrom(spark, pairsDir)))
    assert(shared == rows(SparkEntry.queries("dedup_clusters")(spark, sfDir)))
  }

  test("dedup_source_overlap from the store equals the self-contained query") {
    val shared = rows(LlmData.dedupSourceOverlapFromPairs(spark, sfDir,
      LlmData.pairsFrom(spark, pairsDir)))
    assert(shared == rows(SparkEntry.queries("dedup_source_overlap")(spark, sfDir)))
  }

  test("dedup_containment serves the cache row-identically to the inline relation") {
    val cached = rows(SparkEntry.queries("dedup_containment")(spark, sfDir))
    val inline = rows(LlmData.containmentInline(spark, sfDir)
      .orderBy("doc_a", "doc_b"))
    assert(cached == inline)
  }

  test("ensurePairs serves the marker-committed per-fixture cache") {
    val got = rows(LlmData.ensurePairs(spark, sfDir).orderBy("doc_a", "doc_b"))
    // the cache content IS the pipeline output: identical to a fresh
    // materialization of the same deterministic relation
    assert(got == rows(LlmData.pairsFrom(spark, pairsDir)
      .orderBy("doc_a", "doc_b")))
    assert(new java.io.File(LlmData.pairsCacheDir(spark, sfDir),
      graft.ops.FixtureCache.Marker).exists,
      "marker must be committed after the build")
    // a second call reads the store (same rows, no rebuild)
    assert(got == rows(LlmData.ensurePairs(spark, sfDir)
      .orderBy("doc_a", "doc_b")))
  }

  test("ensureComponents serves cached labels identical to the direct closure") {
    val cached = rows(LlmData.ensureComponents(spark, sfDir)
      .orderBy("id", "lbl"))
    val direct = rows(graft.ops.Components.connected(
        LlmData.ensurePairs(spark, sfDir).select("doc_a", "doc_b"),
        "doc_a", "doc_b")
      .orderBy("id", "lbl"))
    assert(cached == direct)
    assert(cached.nonEmpty)
  }

  test("a regenerated fixture gets a fresh cache; the stale one is evicted") {
    // private fixture: a copy of documents.parquet this test may touch
    val fx = java.nio.file.Files.createTempDirectory("graft_fx_").toString
    val src = java.nio.file.Paths.get(sfDir, "documents.parquet")
    val dstP = java.nio.file.Paths.get(fx, "documents.parquet")
    java.nio.file.Files.copy(src, dstP)
    val d1 = LlmData.pairsCacheDir(spark, fx)
    val r1 = rows(LlmData.ensurePairs(spark, fx).orderBy("doc_a", "doc_b"))
    assert(new java.io.File(d1, graft.ops.FixtureCache.Marker).exists)
    // "regenerate" the fixture in place: same path, new mtime — the
    // content key must change, so the old cache can never be served
    assert(dstP.toFile.setLastModified(dstP.toFile.lastModified() + 5000))
    val d2 = LlmData.pairsCacheDir(spark, fx)
    assert(d2 != d1, "content key must incorporate file mtimes")
    val r2 = rows(LlmData.ensurePairs(spark, fx).orderBy("doc_a", "doc_b"))
    assert(r2 == r1) // same bytes → same pairs, through a fresh build
    assert(new java.io.File(d2, graft.ops.FixtureCache.Marker).exists)
    // the superseded cache dir was evicted during the rebuild — a
    // long-lived host keeps at most one committed cache per fixture
    assert(!new java.io.File(d1).exists,
      s"stale cache $d1 must be evicted on rebuild")
  }

  test("the shared chain amortizes the pair pipeline (timing note)") {
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val (_, selfContained) = time {
      SparkEntry.queries("dedup_clusters")(spark, sfDir).count()
      SparkEntry.queries("dedup_source_overlap")(spark, sfDir).count()
    }
    val (_, shared) = time {
      val p = LlmData.pairsFrom(spark, pairsDir)
      LlmData.dedupClustersFromPairs(p).count()
      LlmData.dedupSourceOverlapFromPairs(spark, sfDir, p).count()
    }
    // no assertion on wall clock (fixture-scale noise) — recorded for
    // the bench notes; the structural claim is covered by the equality
    // tests above
    info(f"self-contained 2-query chain: $selfContained%.2f s; " +
      f"shared-pairs chain: $shared%.2f s")
  }
}
