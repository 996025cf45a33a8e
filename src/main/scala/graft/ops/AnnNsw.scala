package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** NSW-style graph-probe approximate nearest neighbors — the
  * navigable-small-world rung of the ANN family (public: Malkov &
  * Yashunin, "Efficient and robust approximate nearest neighbor search
  * using Hierarchical Navigable Small World graphs", 2016). In that
  * design layer 0 of HNSW IS the NSW graph, so this module owns the
  * layer-0 kernel and the layer-0 search, and serves NSW from the
  * committed [[AnnHnsw]] index instead of a second copy of the graph.
  *
  * Offline ([[buildGraph]], called by [[AnnHnsw.ensureIndex]] over the
  * committed [[AnnIvf]] cell assignment — no k-means fit of its own):
  *  - a proximity GRAPH: per node, its top-[[M]] neighbors by exact
  *    cosine among the candidates sharing the node's IVF cell
  *    (within-cell pairwise is the standard kNN-graph seed, and the
  *    same skew story as [[SemDedup]]: cell-bounded, never all-pairs);
  *  - one ENTRY POINT per cell (min id, [[cellEntries]]) — the
  *    small-world shortcut set that gives the search global reach
  *    without long edges. The HNSW index commits them as `entries`.
  *
  * Online ([[walk]]): greedy BEAM search over layer 0 — expand each
  * beam member's adjacency list, score the new candidates by exact
  * cosine against the query, keep the best [[Beam]], repeat [[Hops]]
  * times. NSW ([[searchTopK]]) starts the walk from the per-cell
  * entries; HNSW starts it from its upper-layer descent. The traversal
  * is inherently sequential (a point-serving query, not a scan): the
  * driver holds only the O(Beam) frontier, and each hop costs ONE
  * Spark job — the layer-0 rows carry their destination VECTORS, so a
  * hop's single pruned `IN`-list read returns both the frontier
  * expansion and everything needed to score it; scoring runs
  * driver-side as the bit-exact mirror of the codegen'd
  * [[graft.functions.CosineSim]] loop ([[AnnLsh.cosineDriver]]). The
  * entries live in the index's driver-resident structure
  * ([[AnnHnsw.resident]]), so a warm probe issues exactly [[Hops]]
  * jobs plus the final answer's own collect.
  *
  * Registered rows-only (`sim_nsw_topk`): the graph depends on the
  * seeded k-means cells — not portable SQL. Mechanics (out-degree law,
  * planted duplicate, determinism, layer-0 sharing) pinned in
  * `AnnNswSpec`; recall vs brute force pinned in `GroundTruthSpec`.
  */
object AnnNsw {
  /** Neighbors kept per node (the NSW out-degree bound). */
  val M = 8
  /** Beam width of the online search. */
  val Beam = 32
  /** Fixed hop count — fixed-depth search is the declared semantics
    * (a convergence loop is data-dependent and unpinnable). */
  val Hops = 3

  /** Adjacency directory-bucket fan-out: the persisted graph
    * partitions by `bkt = src mod ProbeBuckets`, so a beam-search
    * hop's `src IN (beam)` probe prunes to the beam's own bucket
    * DIRECTORIES instead of scanning the whole adjacency file —
    * at a 100-TB index each hop reads ~beam/ProbeBuckets of the
    * layout, not all of it. Pure id arithmetic (no hash) so the probe
    * side can compute bucket literals driver-side. */
  val ProbeBuckets = 16

  /** The probe-side bucket of an id — MUST mirror the write-side
    * `pmod(src, ProbeBuckets)` exactly. */
  def bucketOf(id: Long): Int =
    (((id % ProbeBuckets) + ProbeBuckets) % ProbeBuckets).toInt

  /** Per-cell sub-bucket cap for the layer-0 kNN seed. Within-cell
    * pairwise over the FIXED [[AnnIvf.K]]-cell codebook is quadratic
    * in cell population — Σ(n/K)²·K pairs, ~2.5e11 scored pairs
    * (~7 TB shuffle) at sf100 — so each seed round splits a cell's
    * members into ⌈n_cell / Layer0BucketCap⌉ sub-buckets by a
    * deterministic per-round hash and goes pairwise only within
    * (cell, bucket):
    * round volume ≤ n · Layer0BucketCap, LINEAR in the corpus.
    * [[Layer0Rounds]] independent bucketings (different hash seed)
    * restore cross-bucket reach, the [[AnnHnsw.buildTopLayer]]
    * cap-and-rounds shape applied at layer 0. When every cell fits one
    * bucket — true at every committed fixture scale (sf0.1 has
    * ~125 members/cell) — pmod(·, 1) = 0 collapses each round to
    * EXACTLY the old within-cell pairwise and the union's distinct
    * reproduces the old pair set bit-for-bit, so fixture graphs (and
    * every pinned recall/out-degree/determinism law) are unchanged. */
  val Layer0BucketCap = 512
  /** Independent bucketing rounds for the layer-0 seed. */
  val Layer0Rounds = 2

  /** The bounded layer-0 candidate generator: per round, pairwise
    * within (cell, sub-bucket), scored with exact cosine; rounds
    * unioned and deduped on the (src, dst, score) triple (scores are
    * deterministic, so distinct is exact). Volume law — at most
    * Σ_cells n_c · [[Layer0BucketCap]] · [[Layer0Rounds]] scored rows,
    * never n² — is pinned in `AnnNswSpec`. */
  def candidateScores(assigned: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val nb = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("__cn"))
      .select(col("cell"),
        expr(s"(__cn + ${Layer0BucketCap - 1}) DIV $Layer0BucketCap")
          .as("__nb"))
    val withNb = assigned.join(broadcast(nb), Seq("cell"))
    (0 until Layer0Rounds).map { r =>
      val bucketed = withNb.select(col("cell"),
        pmod(xxhash64(col(idCol), lit(r)), col("__nb")).as("bk"),
        col(idCol), col(vecCol))
      val a = bucketed.select(col("cell"), col("bk"),
        col(idCol).as("src"), col(vecCol).as("va"))
      val b = bucketed.select(col("cell"), col("bk"),
        col(idCol).as("dst"), col(vecCol).as("vb"))
      a.join(b, Seq("cell", "bk"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"),
          AnnLsh.cosine(col("va").cast("array<double>"),
            col("vb").cast("array<double>")).as("score"))
    }.reduce(_ unionByName _).distinct()
  }

  /** The proximity graph (src, dst) over an IVF cell assignment:
    * bounded sub-cell candidate rounds ([[candidateScores]] —
    * n·cap·rounds volume, never within-cell quadratic), then one
    * per-node top-M window — no all-pairs anywhere. */
  def buildGraph(assigned: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src"))
      .orderBy(col("score").desc, col("dst"))
    candidateScores(assigned, idCol, vecCol)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= M)
      .select(col("src"), col("dst"))
  }

  /** One entry point per IVF cell: its min id, as `entry`. */
  def cellEntries(assigned: DataFrame, idCol: String): DataFrame =
    assigned.groupBy(col("cell")).agg(min(col(idCol)).as("entry"))
      .select(col("entry"))

  /** Per-(session, dir) handle cache for committed parquet reads on
    * the probe path: `spark.read.parquet` on a bucketed directory
    * re-runs parallel file LISTING as its own Spark job once the leaf
    * count passes the discovery threshold — a per-probe job that has
    * nothing to do with the probe. The committed dirs are immutable
    * (content-keyed FixtureCache), so the resolved file index is
    * reusable for the session's lifetime. */
  private val dfCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private[ops] def cachedRead(spark: SparkSession, dir: String): DataFrame =
    // keyed by a per-session-instance UUID (weakly held) —
    // identityHashCode could collide between a dead and a live session
    // and serve a DataFrame bound to a stopped session
    dfCache.computeIfAbsent(
      s"${sessionToken(spark)}|$dir",
      _ => spark.read.parquet(dir))

  /** Collision-free per-session token: each SparkSession INSTANCE gets
    * one UUID, held weakly so stopped sessions never pin memory. */
  private val sessionTokens =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  private def sessionToken(spark: SparkSession): String =
    sessionTokens.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)

  /** The `width` best ids of a scored set, fully tie-broken by id. */
  private[ops] def top(scored: Map[Long, Double], width: Int): Seq[Long] =
    scored.toSeq.sortBy { case (id, s) => (-s, id) }.take(width).map(_._1)

  /** The layer-0 beam walk of a committed [[AnnHnsw]] index, from the
    * already-scored start set `start` (NSW: the per-cell entries;
    * HNSW: everything its upper descent scored). ONE job per hop: the
    * layer + bucket literals prune the read to one layer directory's
    * beam buckets before the row-level src filter, and the returned
    * rows carry the destination vectors, so the expansion scores
    * driver-side via the bit-exact CosineSim mirror. The final beam is
    * re-ranked BY SPARK over `nodes` (idCol, vecCol) into the
    * [[AnnIvf.rerank]] answer: (idCol, score), 6-dp, top-k. */
  private[ops] def walk(spark: SparkSession, indexDir: String,
      nodes: DataFrame, idCol: String, vecCol: String, qVec: Seq[Float],
      k: Int, excludeId: Option[Long], start: Map[Long, Double]): DataFrame = {
    val layers = cachedRead(spark, s"$indexDir/layers")
    val qArr = qVec.toArray
    var scored = start
    var beam = top(scored, Beam)
    for (_ <- 1 to Hops) {
      val expand = layers.filter(col("layer") === 0
          && col("bkt").isin(beam.map(bucketOf).distinct: _*)
          && col("src").isin(beam: _*))
        .select(col("dst"), col("dstvec"))
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1))
        .toMap // dedup multi-src destinations
        .filterNot { case (id, _) => scored.contains(id) }
      scored = scored ++ expand.map { case (id, v) =>
        id -> AnnLsh.cosineDriver(v.toArray, qArr) }
      beam = top(scored, Beam)
    }
    AnnIvf.rerank(nodes.filter(col(idCol).isin(beam: _*)),
      idCol, vecCol, qVec, k, excludeId)
  }

  /** NSW search: the layer-0 walk of the [[AnnHnsw]] index at
    * `indexDir`, started from its per-cell `entries`. */
  def searchTopK(spark: SparkSession, indexDir: String, nodes: DataFrame,
      idCol: String, vecCol: String, qVec: Seq[Float], k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val qArr = qVec.toArray
    val start = AnnHnsw.resident(spark, indexDir).entries
      .map { case (id, v) => id -> AnnLsh.cosineDriver(v, qArr) }.toMap
    walk(spark, indexDir, nodes, idCol, vecCol, qVec, k, excludeId, start)
  }
}
