package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HNSW-style HIERARCHICAL graph-probe ANN — the full shape of Malkov
  * & Yashunin 2016 (public) over the [[AnnNsw]] single-layer core: a
  * stack of proximity graphs where layer l keeps an exponentially
  * thinner subsample of nodes, searched by greedy descent — coarse
  * long-range moves on the sparse upper layers land the beam near the
  * answer before the dense layer-0 beam search runs. The hierarchy is
  * what removes NSW's dependence on good entry points: upper layers ARE
  * the entry-point structure.
  *
  * Determinism: production HNSW draws node levels from a geometric
  * distribution at insert time; this build assigns them by a FIXED id
  * rule ([[levelOf]]: id % 256 → level 2, id % 16 → level 1 — the same
  * 1/16 decay) so the index, the search walk, and the pins are exactly
  * reproducible. Same trade as the seeded IVF codebook.
  *
  * Offline ([[ensureIndex]], FixtureCache commit discipline): the cell
  * assignment is the committed [[AnnIvf.ensureIndex]] table — no
  * k-means fit of its own. Layer 0 is the cell-bounded
  * [[AnnNsw.buildGraph]] kernel (never all-pairs on the corpus); the
  * TOP layer seeds from bounded bucketing rounds ([[buildTopLayer]]);
  * every middle layer is built by the paper's INSERT-BY-DESCENT
  * recursion run set-orientedly ([[buildLayerByDescent]]) — members
  * search the layers above for their M neighbors, so no build join
  * exceeds members × M × probes. All layers land in ONE parquet keyed
  * by a `layer` column so each search hop is a pushed-down
  * (layer, src IN …) point lookup; plus the single global `entry` (min
  * id of the top layer) and the per-cell `entries` that start the NSW
  * search ([[AnnNsw.searchTopK]]) on layer 0 of this same index.
  *
  * Online ([[searchTopK]]): greedy descent with a narrow beam
  * ([[UpperBeam]], [[UpperHops]] hops per layer) from the top layer
  * down to layer 1, then the layer-0 beam walk ([[AnnNsw.walk]])
  * seeded by everything the descent scored. The driver holds only the
  * O(beam) frontier; vectors are read ONLY for scored candidates.
  *
  * Registered rows-only (`sim_hnsw_topk`): the index depends on the
  * seeded k-means cells. Layer-membership/descent/determinism laws in
  * `AnnNswSpec`; recall vs brute force in `GroundTruthSpec`.
  */
object AnnHnsw {
  /** Top layer index (layers 0..MaxLevel). */
  val MaxLevel = 2
  /** Beam width during the upper-layer descent. */
  val UpperBeam = 4
  /** Hops per upper layer. */
  val UpperHops = 2
  /** Bucket cap for the TOP-layer base-case build: pairwise volume per
    * bucketing round is members × cap, never members². */
  val TopBucketCap = 64
  /** Independent bucketing rounds for the top layer (cross-bucket
    * reach comes from re-bucketing with a different hash seed). */
  val TopRounds = 2
  /** Candidate-pool beam per inserted member during the offline
    * descent-insert (the efConstruction dial of Malkov & Yashunin). */
  val InsertBeam = 8
  /** Per-node cap on the symmetrized adjacency during the NN-descent
    * refine rounds — bounds the neighbors-of-neighbors join at
    * members × ReverseCap², the same skew discipline as
    * [[Buckets]]. */
  val ReverseCap = 16
  /** NN-descent refine rounds after the descent seed (Dong et al.
    * 2011, public: the kNN-graph fixpoint converges in very few
    * rounds when seeded with non-random candidates). */
  val RefineRounds = 2

  /** Deterministic level assignment — the 1/16-decay id rule. */
  def levelOf(idCol: Column): Column =
    when(idCol % 256 === 0, lit(2))
      .when(idCol % 16 === 0, lit(1))
      .otherwise(lit(0))

  /** Exact cosine for a bounded (id, cand) pair frame — two vector
    * joins, output volume = pair volume (the pair generators above
    * are all cap-bounded, so no score join ever exceeds
    * members × M × probes rows). */
  private def scorePairs(pairs: DataFrame, vecs: DataFrame): DataFrame =
    pairs
      .join(vecs.select(col("__id").as("id"), col("__vec").as("__va")),
        Seq("id"))
      .join(vecs.select(col("__id").as("cand"), col("__vec").as("__vb")),
        Seq("cand"))
      .select(col("id"), col("cand"),
        AnnLsh.cosine(col("__va").cast("array<double>"),
          col("__vb").cast("array<double>")).as("score"))

  /** Top-M edges per source from a scored (id, cand, score) pool. */
  private def topM(scored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("score").desc, col("cand"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= AnnNsw.M)
      .select(col("id").as("src"), col("cand").as("dst"))
  }

  /** TOP-layer base case: the hierarchy's root has no layer above to
    * descend through, so its kNN graph seeds from [[TopRounds]]
    * INDEPENDENT deterministic bucketings (xxhash64(id, round) mod
    * ⌈m/cap⌉) — pairwise only within a bucket, so each round's volume
    * is members × [[TopBucketCap]], never members² (global pairwise
    * over the top membership is quadratic). Different rounds mix
    * different nodes, giving cross-bucket edges; per-node top-M over
    * the union keeps degrees bounded. When the membership fits one
    * bucket (every fixture) this is EXACTLY the old global pairwise. */
  def buildTopLayer(members: DataFrame): DataFrame = {
    val m = members.count()
    val nb = math.max(1L, (m + TopBucketCap - 1) / TopBucketCap)
    val pairs = (0 until TopRounds).map { r =>
      val bucketed = members.select(col("__id").as("id"),
        pmod(xxhash64(col("__id"), lit(r)), lit(nb)).as("bk"))
      bucketed.as("a").join(bucketed.as("b"), col("a.bk") === col("b.bk"))
        .filter(col("a.id") =!= col("b.id"))
        .select(col("a.id").as("id"), col("b.id").as("cand"))
    }.reduce(_ unionByName _).distinct()
    topM(scorePairs(pairs, members))
  }

  /** Insert-by-descent build of one middle layer (the Malkov &
    * Yashunin insert recursion, set-oriented): EVERY layer-l member
    * descends the layer-(l+1) graph at once — frontier×adjacency
    * expansion, exact-cosine scoring, per-member top-[[InsertBeam]]
    * window, [[UpperHops]] hops — then one NN-descent refine round
    * (neighbors-of-neighbors over the symmetrized provisional graph,
    * fan-in capped at [[ReverseCap]]) pulls in same-layer candidates
    * whose descent landed in the same region. No join's volume
    * exceeds members × M × probes: descent expands
    * members × beam × M per hop, the refine round
    * members × ReverseCap² — the build's scale contract. */
  def buildLayerByDescent(inserts: DataFrame, upperMembers: DataFrame,
      upperAdj: DataFrame): DataFrame =
    buildLayerByDescent(inserts, upperMembers, upperAdj, inserts)

  /** Variant with an explicit vector universe: at FULL build time the
    * inserted membership is a superset of every upper layer, so
    * `inserts` doubles as the score-side vector table; at INCREMENTAL
    * insert time ([[insertBatch]]) the descent reaches established
    * nodes that are not in the batch, so candidate vectors resolve
    * from `vecs` = base ∪ batch. */
  def buildLayerByDescent(inserts: DataFrame, upperMembers: DataFrame,
      upperAdj: DataFrame, vecs: DataFrame): DataFrame = {
    val entryDf = broadcast(
      upperMembers.agg(min(col("__id")).as("cand")))
    var pool = scorePairs(
      inserts.select(col("__id").as("id")).crossJoin(entryDf),
      vecs).localCheckpoint(true)
    var frontier = pool
    val wBeam = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("score").desc, col("cand"))
    for (_ <- 1 to UpperHops) {
      val expand = frontier
        .join(upperAdj.select(col("src").as("cand"), col("dst")),
          Seq("cand"))
        .select(col("id"), col("dst").as("cand")).distinct()
        .join(pool.select(col("id"), col("cand")), Seq("id", "cand"),
          "left_anti")
      pool = pool.unionByName(scorePairs(expand, vecs))
        .localCheckpoint(true)
      frontier = pool.withColumn("rk", row_number().over(wBeam))
        .filter(col("rk") <= InsertBeam).drop("rk")
    }
    // NN-descent refine (Dong et al. 2011): symmetrize the current
    // best-M graph so layer-only nodes (never a descent TARGET — the
    // descent can only reach upper-layer nodes) become reachable as
    // neighbors-of-neighbors through a shared descent target; the
    // per-node cap keeps the CLOSEST capped edges (score order, not
    // an arbitrary id sample), and each round re-selects best-M from
    // everything scored so far
    var scoredAll = pool.filter(col("id") =!= col("cand"))
      .localCheckpoint(true)
    val wM = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("score").desc, col("cand"))
    def bestM(df: DataFrame): DataFrame =
      df.withColumn("rk", row_number().over(wM))
        .filter(col("rk") <= AnnNsw.M).drop("rk")
    var edges = bestM(scoredAll)
    for (_ <- 1 to RefineRounds) {
      val sym = edges.unionByName(edges.select(col("cand").as("id"),
        col("id").as("cand"), col("score")))
      val wCap = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("score").desc, col("cand"))
      val symCapped = sym.withColumn("rk", row_number().over(wCap))
        .filter(col("rk") <= ReverseCap).drop("rk")
      val cand2 = symCapped.as("x")
        .join(symCapped.select(col("id").as("mid"),
          col("cand").as("cand2")).as("y"), col("x.cand") === col("y.mid"))
        .filter(col("x.id") =!= col("y.cand2"))
        .select(col("x.id").as("id"), col("y.cand2").as("cand")).distinct()
        .join(scoredAll.select(col("id"), col("cand")), Seq("id", "cand"),
          "left_anti")
      scoredAll = scoredAll.unionByName(scorePairs(cand2, vecs))
        .localCheckpoint(true)
      edges = bestM(scoredAll)
    }
    edges.select(col("id").as("src"), col("cand").as("dst"))
  }

  /** Build-once hierarchical index over the committed [[AnnIvf]] cell
    * assignment of the same source: layered adjacency at
    * `<dir>/layers` (layer, src, dst, dstvec), global entry at
    * `<dir>/entry` and the per-cell NSW entries at `<dir>/entries`
    * (each with its vector as `entryvec`). */
  def ensureIndex(spark: SparkSession, df: DataFrame, idCol: String,
      vecCol: String, sourceDir: String): String = {
    val ivfDir = AnnIvf.ensureIndex(spark, df, idCol, vecCol, sourceDir)
    FixtureCache.ensure(spark, s"hnsw_graph_m${AnnNsw.M}_l${MaxLevel}_v7",
      sourceDir, Seq(s"$sourceDir.parquet")) { tmp =>
      val assigned = AnnIvf.readAssigned(spark, ivfDir, idCol, vecCol)
      val vecs = vectors(assigned, idCol, vecCol)
      commit(tmp, buildLayers(assigned, idCol, vecCol), topEntry(vecs),
        AnnNsw.cellEntries(assigned, idCol), vecs)
    }
  }

  /** A corpus as the (__id, __vec) relation the build steps share. */
  private def vectors(df: DataFrame, idCol: String, vecCol: String) =
    df.select(col(idCol).as("__id"), col(vecCol).as("__vec"))

  /** The global entry: min id of the top layer's membership. */
  private def topEntry(vecs: DataFrame): DataFrame =
    vecs.filter(levelOf(col("__id")) >= MaxLevel)
      .agg(min(col("__id")).as("entry"))

  /** The layered adjacency (src, dst, layer) over an IVF cell
    * assignment (idCol, vecCol, cell). Layer 0 is cell-bounded (the
    * NSW kernel — never all-pairs on the full corpus). Upper layers
    * must CROSS cell boundaries (a cell-bounded upper layer could never
    * leave the entry's cell), but never via global pairwise (layer-1
    * volume would be n²/256): the TOP layer seeds from bounded
    * bucketing rounds ([[buildTopLayer]] — members × cap per round),
    * and every layer below it is built by the HNSW INSERT-BY-DESCENT
    * recursion ([[buildLayerByDescent]]): its members route through a
    * search on the layers above to find their M neighbors, volume ≤
    * members × M × probes. Layer 0 stays lazy. */
  private def buildLayers(assigned: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val leveled = assigned.withColumn("lvl", levelOf(col(idCol)))
      .localCheckpoint(true)
    def mem(l: Int): DataFrame =
      vectors(leveled.filter(col("lvl") >= l), idCol, vecCol)
    val l0 = AnnNsw.buildGraph(leveled, idCol, vecCol)
      .withColumn("layer", lit(0))
    var upperAdj = buildTopLayer(mem(MaxLevel)).localCheckpoint(true)
    var layers = l0.unionByName(upperAdj.withColumn("layer",
      lit(MaxLevel)))
    for (l <- (MaxLevel - 1) to 1 by -1) {
      upperAdj = buildLayerByDescent(mem(l), mem(l + 1), upperAdj)
        .localCheckpoint(true)
      layers = layers.unionByName(upperAdj.withColumn("layer", lit(l)))
    }
    layers
  }

  /** Write one index into `dir`: layers (with dstvec), entry and
    * entries (each with entryvec), vectors from `vecs` (__id, __vec). */
  private def commit(dir: String, layers: DataFrame, entry: DataFrame,
      entries: DataFrame, vecs: DataFrame): Unit = {
    writeLayers(layers, vecs, s"$dir/layers")
    withVec(entry, "entry", vecs, "entryvec")
      .write.mode("overwrite").parquet(s"$dir/entry")
    withVec(entries, "entry", vecs, "entryvec")
      .write.mode("overwrite").parquet(s"$dir/entries")
  }

  /** `ids` with the vector of its `key` column attached as `vecName`;
    * `vecs` (__id, __vec) is keyed by a UNIQUE id, so every row gets
    * exactly one vector. */
  private def withVec(ids: DataFrame, key: String, vecs: DataFrame,
      vecName: String): DataFrame =
    ids.join(vecs.select(col("__id").as(key), col("__vec").as(vecName)),
      Seq(key))

  /** Commit the layered adjacency partitioned by (layer, src-bucket):
    * a beam-search hop filters `layer = l AND src IN (beam)`, so
    * `partitionBy(layer, bkt)` turns every hop into a read of ONE
    * layer directory's beam buckets — directory pruning instead of a
    * full index scan per hop. The unpartitioned form read the whole
    * file hops × probes times; at a 100-TB index that is the
    * difference between a point lookup and a table scan.
    *
    * Each edge also carries its DESTINATION VECTOR (`vecs` = the
    * corpus (__id, __vec) relation), so one pruned read serves a whole
    * probe hop — expansion ids and the data to score them. M×dim
    * floats per node of index weight, the locality trade every
    * serving-path HNSW makes; the upper layers (1/16-decay membership)
    * stay collectable for the driver-resident descent ([[searchTopK]]). */
  private def writeLayers(layers: DataFrame, vecs: DataFrame,
      path: String): Unit =
    // INVARIANT (consumed by searchTopKBatch's first(dstvec) dedup):
    // `vecs` is the corpus keyed by a UNIQUE id, so this inner join
    // assigns exactly ONE dstvec per dst in every committed layer —
    // keep that property under any future layout change.
    withVec(layers, "dst", vecs, "dstvec")
      .select(col("layer"), col("src"), col("dst"), col("dstvec"))
      .withColumn("bkt",
        pmod(col("src"), lit(AnnNsw.ProbeBuckets)).cast("int"))
      .write.mode("overwrite").partitionBy("layer", "bkt")
      .parquet(path)

  /** INCREMENTAL index maintenance — insert a batch into an existing
    * layered index instead of rebuilding, the composition of K52's
    * incremental-ingest discipline with the insert-by-descent
    * machinery. Per layer, top-down:
    *
    *  - '''top layer''': REBUILT over the combined membership with the
    *    same bounded bucketing as the full build — the top holds 1/256
    *    of the corpus, so the rebuild is metadata-priced while keeping
    *    the root graph globally mixed (an insert-only top would slowly
    *    lose long-range edges).
    *  - '''middle + base layers''': each new node finds its M
    *    neighbors by DESCENDING the already-updated layer above
    *    ([[buildLayerByDescent]] with the vector universe = base ∪
    *    batch) — exactly the paper's insert recursion, volume ≤
    *    batch × M × probes, independent of the base corpus size.
    *  - '''reverse adoption''': established nodes that a new node
    *    selected re-rank their adjacency over {current edges ∪ the
    *    reversed new edges} and keep top-M — the paper's neighbor
    *    back-link with the shrink step, bounded by affected × M.
    *    Untouched nodes' adjacency rows carry over verbatim.
    *
    * Determinism law (pinned in `AnnNswSpec`): inserting an EMPTY
    * batch reproduces the base index bit-for-bit (top rebuild is
    * deterministic over identical membership; every other layer
    * carries over). Recall floor vs full rebuild in
    * `GroundTruthSpec`. Returns the (src, dst, layer) adjacency and the
    * global entry. */
  def insertBatch(spark: SparkSession, baseLayers: DataFrame,
      base: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String): (DataFrame, DataFrame) = {
    val newN = vectors(batch, idCol, vecCol).localCheckpoint(true)
    val all = vectors(base, idCol, vecCol).unionByName(newN)
      .localCheckpoint(true)
    def memAll(l: Int) = all.filter(levelOf(col("__id")) >= l)
    def memNew(l: Int) = newN.filter(levelOf(col("__id")) >= l)

    var layers = buildTopLayer(memAll(MaxLevel))
      .withColumn("layer", lit(MaxLevel)).localCheckpoint(true)
    var upperAdj = layers.select(col("src"), col("dst"))
    for (l <- (MaxLevel - 1) to 0 by -1) {
      val oldAdjL = baseLayers.filter(col("layer") === l)
        .select(col("src"), col("dst"))
      // restrict to the inserted srcs: the NN-refine symmetrization
      // inside the descent also scores reversed (established → new)
      // rows, which at FULL build time are the layer's own members but
      // here would collide with keptOld/adopted below
      val newEdges =
        buildLayerByDescent(memNew(l), memAll(l + 1), upperAdj, all)
          .join(memNew(l).select(col("__id").as("src")), Seq("src"),
            "left_semi")
      // reverse adoption — only ESTABLISHED nodes re-rank (a new
      // node's own adjacency is already the descent's best-M)
      val rev = newEdges.select(col("dst").as("id"), col("src").as("cand"))
        .join(newN.select(col("__id").as("id")), Seq("id"), "left_anti")
      val affected = rev.select(col("id")).distinct().localCheckpoint(true)
      val oldOfAffected = oldAdjL
        .join(affected.select(col("id").as("src")), Seq("src"))
        .select(col("src").as("id"), col("dst").as("cand"))
      val adopted = topM(scorePairs(
        rev.unionByName(oldOfAffected).distinct(), all))
      val keptOld = oldAdjL
        .join(affected.select(col("id").as("src")), Seq("src"), "left_anti")
      val adjL = newEdges.unionByName(adopted).unionByName(keptOld)
        .localCheckpoint(true)
      layers = layers.unionByName(adjL.withColumn("layer", lit(l)))
      upperAdj = adjL
    }
    (layers, topEntry(all))
  }

  /** Build-once committed form of the incremental rung: the BASE index
    * (corpus minus the batch) is built in-process from a codebook
    * fitted on the base corpus only, then [[insertBatch]] folds the
    * batch in; the result commits under its own content-keyed cache
    * with the [[ensureIndex]] layout (entries = the min id per base
    * codebook cell over base ∪ batch), so every probe API works on it
    * unchanged. */
  def ensureInsertedIndex(spark: SparkSession, base: DataFrame,
      batch: DataFrame, idCol: String, vecCol: String,
      sourceDir: String): String =
    FixtureCache.ensure(spark, s"hnsw_incr_m${AnnNsw.M}_l${MaxLevel}_v4",
      sourceDir, Seq(s"$sourceDir.parquet")) { tmp =>
      val model = AnnIvf.codebook(base, vecCol, AnnIvf.FitSampleFraction)
      // insertBatch reads each base layer twice (new-edge descent and
      // kept edges), so the lazy layer 0 is materialized once here
      val baseLayers = buildLayers(AnnIvf.assign(base, idCol, vecCol, model),
        idCol, vecCol).localCheckpoint(true)
      val (layers, entry) =
        insertBatch(spark, baseLayers, base, batch, idCol, vecCol)
      val all = base.select(col(idCol), col(vecCol))
        .unionByName(batch.select(col(idCol), col(vecCol)))
      commit(tmp, layers, entry, AnnNsw.cellEntries(
        AnnIvf.assign(all, idCol, vecCol, model), idCol),
        vectors(all, idCol, vecCol))
    }

  /** SET-ORIENTED multi-query hierarchical search — the BATCH-probe
    * form of [[searchTopK]] (the driver-coordinated walk is a
    * point-serving path, one Spark job per hop — correct for a single
    * probe, wrong for a query SET). All queries descend the hierarchy
    * TOGETHER: each hop is one frontier×adjacency join
    * + one bounded score join + one per-query window — job count is
    * O(hops), independent of the query count, and every join's volume
    * is ≤ queries × beam × M. Per query, the expansion/selection walk
    * is EXACTLY [[searchTopK]]'s (same entry, same pool-wide top-beam
    * reselection, same hop counts), so batch(q) ≡ sequential(q)
    * row-for-row — pinned in `AnnNswSpec`.
    *
    * `queries` carries (`qid`, `qvec`); returns (qid, rk, neighbor,
    * score) — top-k per query, self-matches excluded, 6-dp rounded,
    * fully tie-broken. Candidate vectors come EXCLUSIVELY from the
    * committed index layout (`dstvec` on every edge, `entryvec` on the
    * entry row), never from the corpus. */
  def searchTopKBatch(spark: SparkSession, indexDir: String,
      queries: DataFrame, k: Int): DataFrame = {
    // committed dirs are immutable (content-keyed FixtureCache), so the
    // resolved file index is reusable — a fresh spark.read.parquet on
    // the (layer, bkt)-partitioned dir re-runs parallel file LISTING as
    // its own Spark job on every probe (the AnnNsw.cachedRead rationale)
    val layers = AnnNsw.cachedRead(spark, s"$indexDir/layers")
    val q = queries.select(col("qid"), col("qvec"))
    // scoring reads the candidate vector from the EDGE ROW (the
    // committed layout carries dstvec on every edge precisely so a
    // probe hop never has to go back to the corpus — the point-probe
    // design): one join with the query side instead of a
    // second join against the full corpus per hop. Values are
    // bit-identical (dstvec is the corpus vector, joined in at
    // writeLayers); at scale this removes the per-hop corpus shuffle —
    // the index storage already pays for the vectors (guide §2.3:
    // shuffle keys+payload once, not once per hop).
    def score(pairs: DataFrame): DataFrame =
      pairs.join(q, Seq("qid"))
        .select(col("qid"), col("cand"),
          AnnLsh.cosine(col("qvec").cast("array<double>"),
            col("__vb").cast("array<double>")).as("score"))
    def top(pool: DataFrame, width: Int): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("score").desc, col("cand"))
      pool.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= width).drop("rk")
    }
    // checkpoint cadence: the pool is referenced three times per hop
    // (frontier reselection, the visited-set anti-join, the union), so
    // it cannot stay lazy across the whole walk. A measured
    // every-2nd-hop cadence cut the walk's job count 78 → 70 but
    // inflated the lazy 2-hop plans' task binaries to multi-MiB
    // (DAGScheduler large-task-binary warnings) and amplified stall
    // spikes on a contended host — hence a checkpoint every hop.
    def hop(pool: DataFrame, frontier: DataFrame, layer: Int): DataFrame = {
      val adjL = layers.filter(col("layer") === layer)
        .select(col("src").as("cand"), col("dst"), col("dstvec"))
      // dedup by (qid, cand) with the vector carried via first():
      // dstvec is functionally determined by cand in the committed
      // layout (every duplicate row carries the identical array), so
      // the row set is exactly the old (qid, cand) distinct with the
      // vector attached — and the group keys stay scalar, no array
      // hashing in the exchange.
      // INVARIANT (stated at the consumer AND producer):
      // writeLayers materializes dstvec by an inner join of the edge
      // list against the corpus on dst, so one dst ⇒ one dstvec in
      // every committed layer; any future layout change that can leave
      // stale/mixed vectors per dst (e.g. an in-place incremental
      // update) must re-establish this or replace first() with an
      // explicit deterministic pick.
      val expand = frontier.join(adjL, Seq("cand"))
        .select(col("qid"), col("dst").as("cand"), col("dstvec"))
        .groupBy(col("qid"), col("cand"))
        .agg(first(col("dstvec")).as("__vb"))
        .join(pool.select(col("qid"), col("cand")), Seq("qid", "cand"),
          "left_anti")
      pool.unionByName(score(expand)).localCheckpoint(true)
    }
    val entryDf = broadcast(AnnNsw.cachedRead(spark, s"$indexDir/entry")
      .select(col("entry").as("cand"), col("entryvec").as("__vb")))
    var pool = score(q.select(col("qid")).crossJoin(entryDf))
      .localCheckpoint(true)
    for (l <- MaxLevel to 1 by -1; _ <- 1 to UpperHops)
      pool = hop(pool, top(pool, UpperBeam), l)
    for (_ <- 1 to AnnNsw.Hops)
      pool = hop(pool, top(pool, AnnNsw.Beam), 0)
    top(pool, AnnNsw.Beam)
      .filter(col("qid") =!= col("cand"))
      .select(col("qid"), col("cand").as("neighbor"),
        round(col("score"), 6).as("score"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("neighbor"))))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk"), col("neighbor"), col("score"))
      .orderBy(col("qid"), col("rk"))
  }

  /** The DRIVER-RESIDENT part of a committed index: the global entry
    * (id + vector), the layers ≥ 1 adjacency with destination vectors,
    * and the per-cell NSW entries (id + vector). The upper layers are
    * small by construction — the 1/16-decay level rule puts ~1/16 of
    * the corpus at level ≥ 1 with M edges each — so the whole upper
    * descent costs ZERO jobs and only layer-0 expansion stays
    * distributed. */
  private[ops] final case class Resident(entry: Long,
      entryVec: Array[Float], upperAdj: Map[(Int, Long), Seq[Long]],
      upperVecs: Map[Long, Array[Float]],
      entries: Seq[(Long, Array[Float])])

  /** Collected once per committed index: FixtureCache dirs are
    * content-keyed, so keying by path can never serve a stale index. */
  private val residentCache =
    new java.util.concurrent.ConcurrentHashMap[String, Resident]()

  private[ops] def resident(spark: SparkSession, indexDir: String): Resident =
    residentCache.computeIfAbsent(indexDir, _ => {
      def idVecs(dir: String) = spark.read.parquet(dir).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq
      val (entry, entryVec) = idVecs(s"$indexDir/entry").head
      val rows = spark.read.parquet(s"$indexDir/layers")
        .filter(col("layer") >= 1)
        .select(col("layer"), col("src"), col("dst"), col("dstvec"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getSeq[Float](3).toArray))
      val adj = rows.groupBy(r => (r._1, r._2))
        .map { case (k, es) => k -> es.map(_._3).toSeq }
      Resident(entry, entryVec, adj, rows.map(r => r._3 -> r._4).toMap,
        idVecs(s"$indexDir/entries"))
    })

  /** Greedy hierarchical search: descend the upper layers with a
    * narrow beam, then run the layer-0 walk ([[AnnNsw.walk]]) from
    * everything the descent scored. Returns top-k (idCol, score), 6-dp
    * rounded, fully tie-broken.
    *
    * Probe job count (pinned in `AnnNswSpec`): the upper descent runs
    * entirely on the driver-resident structure ([[resident]] — 0 jobs
    * warm), each layer-0 hop is ONE pruned read of the beam's bucket
    * directories, and the returned frame's own collect is the only
    * other job: a warm probe issues ≤ 1 + layer-0 hops jobs. */
  def searchTopK(spark: SparkSession, indexDir: String, nodes: DataFrame,
      idCol: String, vecCol: String, qVec: Seq[Float], k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val qArr = qVec.toArray
    val r = resident(spark, indexDir)
    var scored = Map(r.entry -> AnnLsh.cosineDriver(r.entryVec, qArr))
    var beam = AnnNsw.top(scored, UpperBeam)
    for (l <- MaxLevel to 1 by -1; _ <- 1 to UpperHops) {
      // driver-resident upper hop: zero Spark jobs
      val expand = beam.flatMap(src => r.upperAdj.getOrElse((l, src), Nil))
        .distinct.filterNot(scored.contains)
      scored = scored ++ expand.map(id =>
        id -> AnnLsh.cosineDriver(r.upperVecs(id), qArr))
      beam = AnnNsw.top(scored, UpperBeam)
    }
    AnnNsw.walk(spark, indexDir, nodes, idCol, vecCol, qVec, k,
      excludeId, scored)
  }
}
