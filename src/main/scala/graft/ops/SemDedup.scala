package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication", public): cluster the embedding space with a coarse
  * k-means codebook, then look for near-duplicate PAIRS only WITHIN
  * each cluster — the pairwise cosine work is bounded per cell instead
  * of quadratic in the corpus. Documents whose embeddings are nearly
  * parallel say the same thing in different words; the token-level
  * dedup family (MinHash/SimHash/Jaccard) cannot see them.
  *
  * Scale shape: the codebook is the SHARED IVF artifact
  * ([[AnnIvf.ensureIndex]] — fit once on a seeded sample, assignment
  * table written once, cell-partitioned), so semantic dedup rides the
  * same offline index as ANN search and adds no training of its own.
  * Within-cell expansion goes through the skew-capped
  * [[Buckets.members]] (cap + `n_overflow` observability — a
  * degenerate cell can never go quadratic), exactly like every other
  * candidate generator in the dedup family. At 100 TB the codebook's K
  * grows with the corpus so cells stay bounded; pairs across cell
  * boundaries are missed BY DESIGN (the paper's recall trade — pinned
  * explicitly in `SemDedupSpec`).
  *
  * Keep policy: within each semantic-duplicate component (connected
  * closure over the ≥ tau pairs — [[Components.connected]], the same
  * transitive grouping as K19), keep the minimum-id member. This is a
  * deterministic variant of the paper's keep-one-per-group rule (the
  * paper keeps the member farthest from the centroid; min-id makes the
  * decision reproducible under any partitioning and is the convention
  * of [[LlmData.dedupClusters]]).
  */
object SemDedup {

  /** Default near-duplicate threshold — SemDeDup's epsilon regime:
    * high enough that random or merely-related vectors (fixture max
    * pairwise cosine 0.479) never collide, low enough to catch
    * paraphrase-grade duplicates. */
  val Tau = 0.9

  /** The capped, sorted cell membership — one row per multi-member
    * cell with the ≤ `cap` smallest (id, vector) payloads and the
    * `n_overflow` truncation count. `assigned` must carry (`idCol`,
    * `vecCol`, `cell`). */
  def cellMembers(assigned: DataFrame, idCol: String,
      vecCol: String, cap: Int = Buckets.MaxBucket): DataFrame =
    // r22 (guide §4 hot-path kernels): the vector is widened to
    // array<double> ONCE per member here — CosineSim declares
    // array<double> inputs, so leaving the fixture's array<float>
    // payload in place made Catalyst insert the widening cast PER PAIR
    // EVALUATION (two O(dim) array materializations per pair; pairs
    // per cell are quadratic in the capped membership, members are
    // not). float→double widening is exact, so scores are
    // bit-identical; the trade is a 2× wider members payload through
    // the one bounded (≤ cap per cell) members exchange.
    Buckets.members(assigned, Seq("cell"), col(idCol),
      struct(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v")), cap)

  /** Every within-cell candidate pair (id_a < id_b) with its exact
    * cosine, via the capped bucket expansion — bounded per cell, never
    * corpus-quadratic. */
  private def pairsFromMembers(members: DataFrame): DataFrame =
    // r22 adjudication (guide §4): a position-index pair generator
    // (sortedPairs over sequence(1, n), vectors read via element_at in
    // the codegen'd projection) was implemented and MEASURED WORSE
    // (Prof min-of-5 1.19 → 1.89 s; the pair stage 430 → 660 ms) —
    // four element_at extractions per pair cost more than the
    // interpreted payload walk saves at the capped bucket sizes.
    // Reverted; only the per-member cast hoist (cellMembers) stays.
    members
      .select(explode(Buckets.sortedPairs(col("ids"))).as("p"))
      .select(col("p.a.id").as("id_a"), col("p.b.id").as("id_b"),
        // payloads are pre-widened in cellMembers — no per-pair cast
        round(AnnLsh.cosine(col("p.a.v"), col("p.b.v")), 6).as("cos"))

  /** Per-vector semantic-dedup decision over a cell-assigned embedding
    * table: (`idCol`, cell, sem_cluster, is_kept, top_cos,
    * cell_overflow). `sem_cluster` is the min-id of the vector's ≥
    * `tau` duplicate component (its own id when it has none),
    * `is_kept` marks the one kept member per component, `top_cos` is
    * the highest within-cell cosine to any other member (NULL in
    * singleton cells) — the observability column that keeps the probe
    * non-vacuous on a corpus with no true semantic duplicates — and
    * `cell_overflow` is the vector's cell's membership-cap truncation
    * count (the dedup_health discipline: a member past the cap is
    * never paired, so without this column a truncated near-duplicate
    * is indistinguishable from a genuine singleton — silent recall
    * loss with zero alarm). */
  def dedup(assigned: DataFrame, idCol: String, vecCol: String,
      tau: Double = Tau, cap: Int = Buckets.MaxBucket): DataFrame = {
    val members = cellMembers(assigned, idCol, vecCol, cap)
    // three consumers (top_cos melt, duplicate closure, overflow join)
    // read the bounded relations: materialize the pairs once
    val overflow = members.select(col("cell"), col("n_overflow"))
    val pairs = pairsFromMembers(members).localCheckpoint(true)
    val topCos = pairs
      .select(explode(array(
        struct(col("id_a").as("id"), col("cos")),
        struct(col("id_b").as("id"), col("cos")))).as("m"))
      .groupBy(col("m.id").as(idCol))
      .agg(max(col("m.cos")).as("top_cos"))
    val comp = Components.connected(
        pairs.filter(col("cos") >= tau).select(col("id_a"), col("id_b")),
        "id_a", "id_b")
      .select(col("id").as(idCol), col("lbl"))
    assigned.select(col(idCol), col("cell"))
      .join(comp, Seq(idCol), "left")
      .join(topCos, Seq(idCol), "left")
      .join(overflow, Seq("cell"), "left")
      .select(col(idCol), col("cell"),
        coalesce(col("lbl"), col(idCol)).as("sem_cluster"),
        (coalesce(col("lbl"), col(idCol)) === col(idCol)).as("is_kept"),
        col("top_cos"),
        coalesce(col("n_overflow"), lit(0L)).as("cell_overflow"))
      .orderBy(col(idCol))
  }
}
