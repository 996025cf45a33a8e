package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CharNGrams, CosineSim, HyperplaneCodes, KllQuantile, KllSketchAgg, MinHashSig, RollingHash, SimHashFp, ThetaEstimate, ThetaSetEstimate, ThetaSketchAgg}

/** Session-extensions installer: makes the engine's custom expressions
  * available to every session created with
  * `spark.sql.extensions=graft.GraftExtensions` (the production way to
  * ship Catalyst extensions to a cluster — no per-session register()
  * calls). Injects:
  *  - `char_ngrams(str[, n])` — the [[graft.functions.CharNGrams]]
  *    lateral Generator,
  *  - `rolling_hash(str)` — the native-codegen
  *    [[graft.functions.RollingHash]] fingerprint,
  *  - `cosine_sim(arr, arr)` — the native-codegen
  *    [[graft.functions.CosineSim]] similarity kernel,
  *  - the [[graft.plans.AsOfJoinStrategy]] planner strategy — plans the
  *    custom [[graft.plans.AsOfJoin]] logical operator,
  *  - the [[graft.plans.AsOfJoinOptimization]] optimizer rule —
  *    predicate pushdown + column pruning through [[graft.plans.AsOfJoin]]
  *    (opaque to Catalyst's built-in pushdown rules otherwise),
  *  - the [[graft.plans.SentinelCleanOptimization]] optimizer rule —
  *    rewrites filters over census sentinel-cleaned columns into plain
  *    raw-column predicates the stock pushdown carries into scans.
  *
  * It also installs the fork-free local filesystem
  * ([[graft.sources.ForkFreeLocalFs]]) for `file:` on the running
  * context's Hadoop configuration, for both the `FileSystem` and the
  * `FileContext` API. Without the native Hadoop library the stock
  * classes start a `chmod` process for every file and directory they
  * create and a `readlink` process for every `FileContext` rename, so
  * every snapshot commit, streaming checkpoint and cache write would pay
  * a few ms per file in process starts. Files, `.crc` sidecars,
  * permission bits and commit protocol stay the same. A key the user
  * set is left alone, and no context is created to do this. Hadoop
  * caches one `file:` FileSystem per JVM, so the classes apply when the
  * session is built before anything else touches a local path.
  *
  * Verified in `graft.GraftExtensionsSpec` and `graft.LocalFsSpec` (the
  * shared test session is built with this extensions class, exactly
  * like a configured cluster).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    org.apache.spark.sql.graft.Bridge.activeContext
      .foreach(sc => graft.sources.ForkFreeLocalFs.install(sc.hadoopConfiguration))
    // the whole-operator extensions: plan graft.plans.AsOfJoin nodes
    // to the co-partitioned single-pass merge AsOfJoinExec (or its
    // broadcast form), and graft.plans.RangeJoin nodes to the
    // sliding-window band merge RangeJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.RangeJoinStrategy)
    // runs inside the operator-optimization fixed-point batch, so the
    // filters/projects it moves below AsOfJoin continue into the scans
    // via Spark's own pushdown rules in the same batch
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinOptimization)
    // same pushdown/pruning service for the native band join — the
    // inner-join semantics let BOTH sides' predicates move below
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinOptimization)
    // census §1.2 sentinel cleaning: filters over cleaned columns
    // become pushable raw-column predicates in the same fixed point
    ext.injectOptimizerRule(_ => graft.plans.SentinelCleanOptimization)
    ext.injectFunction((
      new FunctionIdentifier("char_ngrams"),
      new ExpressionInfo(classOf[CharNGrams].getName, "char_ngrams"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(s) => CharNGrams(s, 3)
        case Seq(s, org.apache.spark.sql.catalyst.expressions.Literal(v,
            org.apache.spark.sql.types.IntegerType)) =>
          CharNGrams(s, v.asInstanceOf[Int])
        case _ => throw new IllegalArgumentException(
          "char_ngrams(str[, n:int literal])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(a, b) => CosineSim(a, b)
        case _ => throw new IllegalArgumentException(
          "cosine_sim(a, b) takes exactly two arguments")
      }))
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(s) => RollingHash(s)
        case _ => throw new IllegalArgumentException(
          "rolling_hash(str) takes exactly one argument")
      }))
    // the LSH signature kernels (round 11): per-row MinHash signature,
    // SimHash fingerprint, and sign-hyperplane codes — SQL-callable so
    // a pipeline can persist signatures/fingerprints next to its docs
    ext.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(s) => MinHashSig(s)
        case _ => throw new IllegalArgumentException(
          "minhash_sig(text) takes exactly one argument")
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash_fp"),
      new ExpressionInfo(classOf[SimHashFp].getName, "simhash_fp"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(s) => SimHashFp(s)
        case _ => throw new IllegalArgumentException(
          "simhash_fp(text) takes exactly one argument")
      }))
    // theta-sketch distinct-set algebra (round 12): build mergeable
    // sketches in SQL and compose union/intersection/difference
    // estimates over the persisted blobs — `SELECT theta_estimate(
    // theta_sketch_agg(user_id)) FROM ...` per partition, then set
    // algebra across partitions without rescanning
    ext.injectFunction((
      new FunctionIdentifier("theta_sketch_agg"),
      new ExpressionInfo(classOf[ThetaSketchAgg].getName, "theta_sketch_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => ThetaSketchAgg(c)
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(k,
            org.apache.spark.sql.types.IntegerType)) =>
          ThetaSketchAgg(c, k.asInstanceOf[Int])
        case _ => throw new IllegalArgumentException(
          "theta_sketch_agg(col[, lgK:int literal])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("theta_estimate"),
      new ExpressionInfo(classOf[ThetaEstimate].getName, "theta_estimate"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(s) => ThetaEstimate(s)
        case _ => throw new IllegalArgumentException(
          "theta_estimate(sketch) takes exactly one argument")
      }))
    ext.injectFunction((
      new FunctionIdentifier("theta_set_estimate"),
      new ExpressionInfo(classOf[ThetaSetEstimate].getName, "theta_set_estimate"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(a, b, org.apache.spark.sql.catalyst.expressions.Literal(op,
            org.apache.spark.sql.types.StringType)) =>
          ThetaSetEstimate(a, b, op.toString)
        case _ => throw new IllegalArgumentException(
          "theta_set_estimate(a, b, op:'union'|'intersect'|'a_not_b' literal)")
      }))
    // KLL mergeable quantile sketches (round 18): sketch each
    // partition once, persist the blob, answer any later quantile
    // over any partition union by merging blobs — `SELECT
    // kll_quantile(kll_sketch_agg(price), 0.5) FROM ...`
    ext.injectFunction((
      new FunctionIdentifier("kll_sketch_agg"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "kll_sketch_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => KllSketchAgg(c)
        case Seq(c, org.apache.spark.sql.catalyst.expressions.Literal(k,
            org.apache.spark.sql.types.IntegerType)) =>
          KllSketchAgg(c, k.asInstanceOf[Int])
        case _ => throw new IllegalArgumentException(
          "kll_sketch_agg(col[, k:int literal])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[KllQuantile].getName, "kll_quantile"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(s, p) => KllQuantile(s, p)
        case _ => throw new IllegalArgumentException(
          "kll_quantile(sketch, rank:double)")
      }))
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_codes"),
      new ExpressionInfo(classOf[HyperplaneCodes].getName, "hyperplane_codes"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(v,
            org.apache.spark.sql.catalyst.expressions.Literal(t,
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.catalyst.expressions.Literal(b,
              org.apache.spark.sql.types.IntegerType)) =>
          HyperplaneCodes(v, t.asInstanceOf[Int], b.asInstanceOf[Int])
        case _ => throw new IllegalArgumentException(
          "hyperplane_codes(vec, tables:int literal, bits:int literal)")
      }))
  }
}
