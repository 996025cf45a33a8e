package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Util._

/** Category K — LLM-training-data operators over `documents` /
  * `embeddings` (SURVEY.md §2.2 K1-K5 + the training-pipeline extensions
  * the driver's north star calls for: fingerprinting, Jaccard near-dup,
  * quality scoring, binary-payload plumbing).
  *
  * Scale shapes: exact dedup is hash-partition + window (no all-pairs);
  * Jaccard near-dup generates candidates only within a min-shingle bucket
  * (a k=1 identity-hash MinHash band — the LSH family that
  * [[graft.ops.MinHash]] generalizes to k=32 banded, used by
  * [[dedupMinhash]]); cosine top-k broadcasts the single query vector and
  * does one narrow pass + TakeOrderedAndProject — never a crossJoin.
  */
object LlmData {

  /** K1: exact dedup — sha2 text hash, keep the minimum doc_id per hash.
    * One shuffle on the hash; survivors ordered by doc_id. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("text_sha")).orderBy(col("doc_id"))
    t(spark, sfDir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("text_sha"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("text_sha"))
      .orderBy(col("doc_id"))
  }

  private val D = DecimalType(18, 9)

  /** K3: brute-force cosine top-5 neighbors of vec_id=0. The query vector
    * is collected (one row) and inlined as a literal — at cluster scale
    * this is a broadcast. Dot products are exact decimal: each float is
    * correctly-rounded to DECIMAL(18,9) (both engines round the same
    * way — ties are impossible for binary fractions at decimal scale 9),
    * per-dimension products (scale 18) are summed exactly by the
    * aggregate (posexplode → partial map-side agg → one bounded shuffle
    * keyed by vec_id), and the only float ops left (sqrt, divide,
    * multiply, round) are IEEE correctly-rounded — so Spark and DuckDB
    * produce bit-identical cosines. The query-vector norm is computed
    * driver-side with the same BigDecimal semantics. */
  /** K72: HYBRID retrieval via reciprocal-rank fusion — the
    * production RAG/retrieval shape: a LEXICAL leg (distinct-token
    * overlap with the query document — the degenerate-but-honest BM25
    * stand-in on this fixture's flat term statistics) and a VECTOR
    * leg (the K3 exact-decimal cosine), each ranked with a fully
    * tie-broken order, fused by RRF: `1/(60+r_lex) + 1/(60+r_vec)`
    * (Cormack's k=60). RRF is why hybrid search is deterministic
    * here: it consumes only integer RANKS, so the two float score
    * scales never mix — the fusion arithmetic is two exact reciprocal
    * doubles added once, identical in both engines. The ranking
    * windows run over the CANDIDATE table (one row per doc); at scale
    * each leg's candidate set comes pre-pruned (inverted index / K18
    * ANN probe) and the fusion cost stays per-candidate. */
  def simHybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    val qTok = docs.filter(col("doc_id") === 0)
      .select(explode(array_distinct(split(col("text"), " "))).as("tok"))
    val candTok = docs.filter(col("doc_id") =!= 0)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
    val overlap = candTok.join(broadcast(qTok), Seq("tok"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("ov"))
    val lexr = docs.filter(col("doc_id") =!= 0).select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("ov"), lit(0L)).as("ov"))
      .withColumn("r_lex", row_number().over(
        Window.orderBy(col("ov").desc, col("doc_id"))))
    val emb = t(spark, sfDir, "embeddings")
    val q = AnnLsh.queryVector(emb, "vec_id", "embedding", 0L)
    val qNorm2: Double = q
      .map(f => BigDecimal.decimal(f.toDouble)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP))
      .map(d => d * d).sum.toDouble
    val qLit = array(q.map(lit): _*)
    val vecr = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"),
        col("col").cast(D).as("x"),
        element_at(qLit, col("pos") + 1).cast(D).as("y"))
      .groupBy(col("vec_id"))
      .agg(sum(col("x") * col("y")).cast("double").as("dot"),
        sum(col("x") * col("x")).cast("double").as("n2"))
      .select(col("vec_id").as("doc_id"),
        round(col("dot") / (sqrt(col("n2")) * sqrt(lit(qNorm2))), 6)
          .as("score"))
      .withColumn("r_vec", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
    lexr.join(vecr.select(col("doc_id"), col("r_vec")), Seq("doc_id"))
      .select(col("doc_id"),
        col("r_lex").cast("long").as("r_lex"),
        col("r_vec").cast("long").as("r_vec"),
        round(lit(1.0) / (lit(60) + col("r_lex"))
          + lit(1.0) / (lit(60) + col("r_vec")), 9).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
  }

  def simTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = t(spark, sfDir, "embeddings")
    val q = AnnLsh.queryVector(emb, "vec_id", "embedding", 0L)
    val qNorm2: Double = q
      .map(f => BigDecimal.decimal(f.toDouble)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP))
      .map(d => d * d).sum.toDouble
    val qLit = array(q.map(lit): _*)
    emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"),
        col("col").cast(D).as("x"),
        element_at(qLit, col("pos") + 1).cast(D).as("y"))
      .groupBy(col("vec_id"))
      .agg(sum(col("x") * col("y")).cast("double").as("dot"),
        sum(col("x") * col("x")).cast("double").as("n2"))
      .select(col("vec_id"),
        round(col("dot") / (sqrt(col("n2")) * sqrt(lit(qNorm2))), 6)
          .as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(5)
  }

  /** K45: embedding-column health statistics — the drift/quality check
    * a vector pipeline runs before trusting an index build: per label,
    * vector count and the L2-norm distribution (mean/min/max). A
    * mis-normalized batch (norms far from the corpus band) or a
    * collapsed encoder (norms near 0) shows up HERE before it silently
    * degrades every downstream ANN/dedup result. Per-vector norms use
    * the K3 float discipline (components cast to exact DECIMAL(18,9),
    * squared-sum as exact decimal, ONE double sqrt); the mean uses the
    * text_entropy discipline (9 dp term round + exact-decimal sum) so
    * every number is identical under any partitioning. One posexplode +
    * two partial-agg passes — never a per-row UDF over the array. */
  def embeddingStats(spark: SparkSession, sfDir: String): DataFrame = {
    val DL = DecimalType(28, 14)
    val norms = t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"), col("col").cast(D).as("x"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sqrt(sum(col("x") * col("x")).cast("double")).as("norm"))
    norms.groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum(round(col("norm"), 9).cast(DL)).cast("double")
          / count(lit(1)), 6).as("mean_norm"),
        round(min(col("norm")), 6).as("min_norm"),
        round(max(col("norm")), 6).as("max_norm"))
      .orderBy(col("label"))
  }

  /** K4: corpus stats per language. */
  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        dbl(sum(dec(size(split(col("text"), " ")))) / count(lit(1)))
          .as("avg_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))

  /** K5: top-10 tokens by corpus frequency (cached token relation →
    * partial-agg count → TakeOrdered; the map-side combine bounds the
    * shuffle and the tokenize/explode is paid once in
    * [[ensureTokens]]). */
  def textTokensTopk(spark: SparkSession, sfDir: String): DataFrame =
    ensureTokens(spark, sfDir)
      .select(col("tok").as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(10)

  /** Fingerprint: sha256 over the sorted distinct token set — a
    * canonical-form hash robust to token order (bag-of-words identity). */
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      // sort below, fingerprint above (r21: the fn_try_arith
      // range-sampling rationale; doc_id unique)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"),
        sha2(array_join(array_sort(array_distinct(split(col("text"), " "))), " "),
          256).as("fp"))

  /** K37: text normalization + normalized-exact dedup accounting — the
    * canonicalization pass a dedup pipeline runs BEFORE exact hashing
    * (case fold, punctuation → space, whitespace collapse, trim):
    * byte-identical dup detection misses trivially-reformatted copies.
    * Per doc: the 256-bit hash of the normalized text, its length, and
    * whether that normalized form occurs in ≥ 2 documents. One narrow
    * codegen'd projection + one count window keyed on the HASH (the
    * shuffle moves 32-byte hashes, never text). Regexes in the
    * Java-regex ∩ RE2 common subset. */
  def textNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9\\s]", " "), "\\s+", " "))
    val byHash = Window.partitionBy(col("norm_hash"))
    t(spark, sfDir, "documents")
      .select(col("doc_id"), sha2(norm, 256).as("norm_hash"),
        length(norm).as("n_norm_chars"))
      .withColumn("is_dup_normalized", count(lit(1)).over(byHash) > 1)
      .orderBy(col("doc_id"))
  }

  /** K39: corpus bigram statistics — the token-adjacency counts behind
    * n-gram LM scoring and boilerplate detection; top-20 bigrams by
    * count. Reads the cached adjacency relation ([[ensureBigrams]] —
    * the posexplode + doc-partitioned lead window is paid once at
    * cache build, shared with K47), then one partial-agg count +
    * TakeOrdered. */
  def textBigrams(spark: SparkSession, sfDir: String): DataFrame =
    ensureBigrams(spark, sfDir)
      .select(concat_ws(" ", col("w1"), col("w2")).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  /** Tumbling segment width (tokens) for [[textBoilerplate]]. The
    * fixture text carries no newlines, so the "line" unit of the
    * public recipes is an 8-token tumbling segment. */
  val BoilerSegTokens = 8

  /** A segment shared by at least this many DISTINCT documents is
    * boilerplate (the RefinedWeb line-dedup criterion: repeated across
    * documents, not merely repeated inside one). */
  val BoilerMinDocs = 2

  /** Per-document boilerplate accounting over any (doc_id, text)
    * relation — the testable core of [[textBoilerplate]] (K63).
    *
    * Corpus-frequency boilerplate removal is the CCNet paragraph-hash
    * dedup (Wenzek et al. 2020 §3.1) / RefinedWeb repeated-line drop
    * (Penedo et al. 2023) — headers, nav bars, and license banners
    * repeat across millions of pages and must be stripped BEFORE
    * quality scoring or they dominate every n-gram statistic.
    *
    * Scale shape: segments are built by a NARROW transform on the
    * split array (no explode→window — each doc emits its tumbling
    * segments in place), and from that point only (doc_id, xxhash64)
    * pairs move — segment TEXT never shuffles. The frequency side is
    * one partial-agg distinct-doc count per hash; the flag returns via
    * a left join on the hash whose build side is only the segments
    * that cleared the ≥[[BoilerMinDocs]] bar (boilerplate is sparse in
    * a healthy corpus — AQE broadcasts it when small). 64-bit hash
    * equivalence stands in for text equality, the same collision
    * budget every production line-dedup accepts. */
  def boilerplateCounts(docs: DataFrame): DataFrame = {
    val k = BoilerSegTokens
    val segs = docs
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, (size(l) + ${k - 1}) div $k - 1),
           |  s -> array_join(slice(l, s * $k + 1, $k), ' '))""".stripMargin))
        .as("seg_text"))
      .select(col("doc_id"), xxhash64(col("seg_text")).as("h"))
    val boiler = segs.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= BoilerMinDocs)
      .select(col("h"), lit(true).as("is_boiler"))
    segs.join(boiler, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        count(when(col("is_boiler"), 1)).as("n_boiler"))
      .withColumn("boiler_ratio", dbl(dec(col("n_boiler")) / col("n_seg")))
  }

  /** K63: registered boilerplate accounting over the fixture corpus —
    * per document, tumbling-segment count, boilerplate-segment count
    * (shared with ≥ 1 other document), and the removal ratio a
    * curation pipeline would act on. */
  def textBoilerplate(spark: SparkSession, sfDir: String): DataFrame =
    boilerplateCounts(t(spark, sfDir, "documents"))
      .orderBy(col("doc_id"))

  /** K40: unigram-LM surprisal quality score (the CCNet filtering
    * signal — Wenzek et al. 2020, "CCNet: Extracting High Quality
    * Monolingual Datasets from Web Crawl Data", public): per document,
    * the mean negative log-probability of its tokens under the CORPUS
    * unigram distribution. Template/boilerplate text scores low,
    * rare-token noise scores high; a curation pipeline trims both
    * tails. Numeric discipline as [[textEntropy]]: each (doc, token)
    * group's c·ln p term is rounded to 9 dp and summed as exact
    * DECIMAL (associative — a raw DOUBLE sum would hash-flap with agg
    * order), one IEEE divide + 6 dp final round. Shape: two partial-agg
    * passes (corpus vocabulary, per-doc counts) + one join keyed on the
    * token (vocabulary-sized build side — left to AQE, broadcast when
    * small; at 100 TB a web vocabulary still fits the SMJ fallback). */
  def textSurprisal(spark: SparkSession, sfDir: String): DataFrame = {
    val DL = DecimalType(28, 9)
    val toks = ensureTokens(spark, sfDir).select(col("doc_id"), col("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("ctok"))
    // corpus token mass stays IN the dataflow as a 1-row broadcast
    // (Σ ctok over the vocab — the same long the old driver-side
    // toks.count() collected, same double division): r21 removes one
    // full pass over the token relation plus the driver round-trip
    val totalF = broadcast(vocab.agg(
      sum(col("ctok")).cast("double").as("__total")))
    toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .join(vocab, Seq("tok"))
      .crossJoin(totalF)
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_toks"),
        sum(round(col("c") * log(col("ctok").cast("double") / col("__total")), 9)
          .cast(DL)).as("slp"))
      .select(col("doc_id"), col("n_toks"),
        round(-col("slp").cast("double") / col("n_toks"), 6).as("surprisal"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF over the corpus: per token, total term frequency × inverse
    * document frequency (ln(N/df), rounded to 4 dp — libm implementations
    * agree far beyond that), top 20 by weight with token tie-break.
    * One explode + one two-measure aggregate (tf and df in the same
    * pass — df via distinct doc count), then TakeOrdered. */
  def textTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    // corpus document count stays IN the dataflow as a 1-row broadcast
    // (the text_surprisal pattern, r22): the same long the old
    // driver-side docs.count() collected, cast to double once, so the
    // idf division walks the identical IEEE sequence — no driver-side
    // action remains in any declared query path (guide §5)
    val nDocsF = broadcast(t(spark, sfDir, "documents")
      .agg(count(lit(1)).cast("double").as("__ndocs")))
    ensureTokens(spark, sfDir)
      .select(col("doc_id"), col("tok").as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .crossJoin(nDocsF)
      .select(col("token"), col("tf"), col("df"),
        round(col("tf") * log(col("__ndocs") / col("df")), 4).as("tfidf"))
      .orderBy(col("tfidf").desc, col("token"))
      .limit(20)
  }

  /** Rolling-hash document fingerprint via the native-codegen
    * [[graft.functions.RollingHash]] expression — order-sensitive
    * content identity (complement of the order-insensitive
    * [[textFingerprint]]). */
  def textRollingHash(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.RollingHash.register(spark)
    t(spark, sfDir, "documents")
      .selectExpr("doc_id", "rolling_hash(text) AS rhash")
      .orderBy(col("doc_id"))
  }

  /** Quality scoring per document: token count, mean token length, and
    * stopword ratio (exact decimal ratios, DOUBLE finals). */
  def textQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    t(spark, sfDir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        dbl(dec(length(col("text")) - (size(col("toks")) - 1))
          / size(col("toks"))).as("avg_tok_len"),
        dbl(dec(size(filter(col("toks"),
            tk => tk.isin(stop.map(s => s: Any): _*))))
          / size(col("toks"))).as("stopword_ratio"))
      .orderBy(col("doc_id"))
  }

  /** K62: quality × duplication CALIBRATION — the confound check run
    * before trusting any quality-weighted sampling (K46) or
    * keep-best dedup (K34): if low-quality bands also carry high
    * duplicate rates, a quality filter silently does (part of) the
    * dedup's job and the two stages' budgets double-count. Documents
    * band by stopword-ratio per-mille in FIXED 100-per-mille bands
    * (data-independent edges — the D21 rationale; the ratio itself is
    * exact integer `(1000·n_stop) DIV n_tokens`, no float boundary),
    * each band reporting doc count, exact-duplicate membership rate,
    * and token mass.
    *
    * Scale shape: duplicate membership comes from grouping the
    * 256-bit TEXT HASH computed in the scan projection (text never
    * shuffles — the K60 discipline); one hash-keyed join back, one
    * 11-key partial agg. The stopword filter runs at document
    * cardinality, not token cardinality. */
  def qualityDupCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val docs = t(spark, sfDir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .select(sha2(col("text"), 256).as("h"),
        size(col("toks")).as("nt"),
        size(filter(col("toks"),
          tk => tk.isin(stop.map(s => s: Any): _*))).as("ns"))
      .withColumn("q_pm", expr("(1000 * ns) DIV nt"))
    val copies = docs.groupBy(col("h")).agg(count(lit(1)).as("n_copies"))
    docs.join(copies, Seq("h"))
      .groupBy(expr("q_pm DIV 100").as("q_band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_members"),
        sum(col("nt")).as("n_tokens"))
      .select(col("q_band"), col("n_docs"), col("n_dup_members"),
        dbl(dec(col("n_dup_members")) / col("n_docs")).as("dup_rate"),
        col("n_tokens"))
      .orderBy(col("q_band"))
  }

  /** K35: PII scrub — the redaction pass a pre-training pipeline runs
    * before anything else: emails and IPv4 addresses found in document
    * text are counted and replaced with typed placeholder tokens, and
    * the scrubbed text is pinned by its sha256. The fixture corpus
    * carries no organic PII, so both engines deterministically inject
    * synthetic PII first (an email for every 7th doc, an IP for every
    * 11th — a pure function of doc_id), which makes the redaction
    * mechanics — match counting, global replace, replace order —
    * hash-checked rather than vacuously zero.
    *
    * The regexes stay inside the Java-regex ∩ RE2 common subset
    * (character classes, bounded repetition, \b) so Spark and DuckDB
    * compile identical automata. One narrow projection, no shuffle
    * before the output sort; codegen'd string kernels. */
  def textPiiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val injected = t(spark, sfDir, "documents")
      // sort below, regex battery above (r21: the fn_try_arith
      // range-sampling rationale — the sampling pass otherwise runs
      // every regex twice; doc_id unique)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .withColumn("text2", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".25 logged"))).otherwise(lit(""))))
    injected.select(col("doc_id"),
        size(regexp_extract_all(col("text2"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("text2"), lit(ipRe), lit(0)))
          .cast("long").as("n_ips"),
        sha2(regexp_replace(
          regexp_replace(col("text2"), emailRe, "<EMAIL>"),
          ipRe, "<IP>"), 256).as("scrub_sha"))
  }

  /** K49: charset / codepoint quality screen — the C4-style encoding
    * filter a web-corpus pipeline runs first: per document, codepoint
    * count, non-ASCII and control-character counts, and ASCII/digit
    * ratios (mojibake, binary spills, and template noise all alarm
    * here before any token-level signal). The fixture corpus is pure
    * ASCII, so both engines deterministically inject the same
    * non-ASCII and control-character suffixes first (a pure function
    * of doc_id — the [[textPiiScrub]] pattern), making the counting
    * mechanics hash-checked rather than vacuously zero.
    *
    * Counts are length-differences of a global regex strip; the
    * classes stay inside the Java-regex ∩ RE2 common subset (hex
    * ranges), so both engines compile identical automata. One narrow
    * codegen'd projection, no shuffle before the output sort. */
  def textCharset(spark: SparkSession, sfDir: String): DataFrame = {
    val injected = t(spark, sfDir, "documents")
      // sort below, regex counters above (r21: the fn_try_arith
      // range-sampling rationale; doc_id unique)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .withColumn("t2", concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit(" naïve café résumé")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit(" \u0007bell")).otherwise(lit(""))))
    val n = length(col("t2"))
    val nonAscii = n - length(regexp_replace(col("t2"), "[^\\x00-\\x7F]", ""))
    val ctrl = n - length(regexp_replace(col("t2"), "[\\x00-\\x1F]", ""))
    val digits = n - length(regexp_replace(col("t2"), "[0-9]", ""))
    injected.select(col("doc_id"),
        n.cast("long").as("n_chars"),
        nonAscii.cast("long").as("n_non_ascii"),
        ctrl.cast("long").as("n_ctrl"),
        when(n > 0, dbl(dec(n - nonAscii) / n)).as("ascii_ratio"),
        when(n > 0, dbl(dec(digits) / n)).as("digit_ratio"))
  }

  /** K51: readability scoring — the Flesch reading-ease heuristic
    * (Flesch 1948, public; the Kincaid variants are the DoD-standard
    * derivation) over counted sentences, words, and vowel-group
    * "syllables": 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words). Training pipelines bucket corpora by
    * readability to balance simple/complex text and to screen
    * generated spam (which skews unnaturally mid-band).
    *
    * Counting rules declared exactly (both engines run the same regex
    * automata in the Java ∩ RE2 subset — the whitespace class is the
    * explicit hex set, because Java's `\s` includes U+000B while
    * RE2's does not): sentences = runs of [.!?] (min 1 —
    * headline-like docs without enders count as one), words =
    * nonempty whitespace-delimited tokens, syllables = runs of
    * [aeiouy] in the lowercased text. Ratios and the formula are the IDENTICAL IEEE
    * double tree in both engines ([[Events.anomalyScores]] argument)
    * with one 4 dp final round; zero-word docs report NULL. One narrow
    * codegen'd projection, no shuffle before the output sort. */
  def textReadability(spark: SparkSession, sfDir: String): DataFrame = {
    val nSent = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
    val nWords = size(filter(split(col("text"), "[ \\t\\n\\x0B\\f\\r]+"),
      tk => length(tk) > 0)).cast("long")
    val nSyll = size(regexp_extract_all(lower(col("text")),
      lit("[aeiouy]+"), lit(0))).cast("long")
    t(spark, sfDir, "documents")
      // sort below, counting regexes above (r21: the fn_try_arith
      // range-sampling rationale; doc_id unique)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .select(col("doc_id"), nSent.as("n_sentences"), nWords.as("n_words"),
        nSyll.as("n_syllables"))
      .select(col("doc_id"), col("n_sentences"), col("n_words"),
        col("n_syllables"),
        when(col("n_words") > 0,
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double")
              / col("n_sentences").cast("double"))
            - lit(84.6) * (col("n_syllables").cast("double")
              / col("n_words").cast("double")), 4))
          .otherwise(lit(null).cast("double")).as("flesch"))
  }

  /** K27: repetition-based quality filtering — the Gopher repetition
    * signals (Rae et al. 2021, "Scaling Language Models", §A1.1,
    * public): the fraction of tokens taken by the single most frequent
    * token, and the fraction of duplicate token-bigrams. Repetitive
    * machine-generated or boilerplate text scores high on both and is
    * filtered before training. Shapes: two per-(doc, gram) count →
    * per-doc aggregate passes over the cached token relation
    * ([[ensureTokens]] — the bigram is the precomputed `nxt` column,
    * no explode or window at read time; map-side partial, keyed
    * shuffles, no collects); ratios are exact decimal.
    * Docs with < 2 tokens have no bigrams → NULL ratio (explicit in
    * both engines). */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    val base = ensureTokens(spark, sfDir)
    val uni = base
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_toks"))
    val bi = base
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("nxt")).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bi"), count(lit(1)).as("n_bi_d"))
    uni.join(bi, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        dbl(dec(col("top_c")) / col("n_toks")).as("top_tok_ratio"),
        coalesce(col("n_bi"), lit(0L)).as("n_bigrams"),
        when(col("n_bi").isNull, lit(null).cast("double"))
          .otherwise(dbl(dec(col("n_bi") - col("n_bi_d")) / col("n_bi")))
          .as("dup_bigram_ratio"))
      .orderBy(col("doc_id"))
  }

  /** K28: deterministic hash-Bernoulli corpus sampling — the
    * reproducible downsampling primitive for rebalancing an
    * over-represented stratum (downsample 'lang0'-style head languages;
    * standard corpus-mixing practice). Each doc's keep decision is a
    * pure function of its id: the first 8 hex chars of
    * md5(salt ++ doc_id) interpreted as a uniform 32-bit draw, kept
    * when below the per-stratum threshold. No RNG state, no seed
    * coordination across executors, stable under re-partitioning and
    * retries — the properties `rand()`-based sampling loses at scale.
    * The comparison is INTEGER (threshold = rate × 2^32), so both
    * engines decide identically with no float edge. One narrow
    * projection + one partial-agg pass. */
  def sampleHashBernoulli(spark: SparkSession, sfDir: String): DataFrame = {
    val draw = conv(substring(md5(concat(lit("graft"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    // downsample the corpus-head stratum ('en' dominates the fixture as
    // it dominates web corpora) to 25%, keep the rest whole
    val threshold = when(col("lang") === "en", lit(1073741824L))
      .otherwise(lit(4294967296L))
    t(spark, sfDir, "documents")
      .select(col("lang"), (draw < threshold).as("keep"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("n_docs"), col("n_kept"),
        dbl(dec(col("n_kept")) / col("n_docs")).as("keep_ratio"))
      .orderBy(col("lang"))
  }

  /** K33: per-document unigram Shannon entropy — the
    * information-density quality signal (low entropy = repetitive /
    * template text; complements the K27 repetition ratios):
    * H = ln(n) − (Σ c·ln c)/n over token counts c. Float-sum hazard
    * handled explicitly: each c·ln(c) term is rounded to 9 dp and
    * summed as EXACT DECIMAL (associative — a raw DOUBLE sum would
    * hash-flap with aggregation order), then one IEEE division +
    * subtraction and a 6 dp final round, so both engines agree
    * bit-for-bit. Two partial-agg passes over the cached token
    * relation ([[ensureTokens]]). */
  def textEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val DL = DecimalType(28, 9)
    ensureTokens(spark, sfDir)
      .select(col("doc_id"), col("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_toks"),
        count(lit(1)).as("n_distinct"),
        sum(round(col("c") * log(col("c")), 9).cast(DL)).as("scl"))
      .select(col("doc_id"), col("n_toks"), col("n_distinct"),
        round(log(col("n_toks")) -
          col("scl").cast("double") / col("n_toks"), 6).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** K71: Zipf-law fit over the token-BIGRAM frequency distribution —
    * the corpus-naturalness check a data pipeline runs before
    * training (natural language sits near slope −1 on the log-log
    * rank/frequency line; machine-generated or templated text bends
    * it): OLS slope and R² of log10(freq) against log10(rank). Float
    * discipline is the text_entropy one — each log/product TERM is
    * rounded to 9 dp (the correctly-rounded-enough window where
    * Java's Math.log10 and DuckDB's libm agree) and summed as exact
    * DECIMAL(28,9), so the five moments re-associate identically
    * under any partitioning, then the D28 closed forms finalize with
    * one division each. The ranking window runs over the bigram TYPE
    * table (bounded by vocab², tiny next to the corpus); the heavy
    * tokenize/adjacency pass is the shared [[ensureBigrams]] cache. */
  def textZipf(spark: SparkSession, sfDir: String): DataFrame = {
    val DL = DecimalType(28, 9)
    val freq = ensureBigrams(spark, sfDir)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("w1"), col("w2"))
    val pts = freq.withColumn("rk", row_number().over(w))
      .select(round(log10(col("rk")), 9).as("x"),
        round(log10(col("c")), 9).as("y"))
    pts
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DL)).as("sx"),
        sum(col("y").cast(DL)).as("sy"),
        sum(round(col("x") * col("y"), 9).cast(DL)).as("sxy"),
        sum(round(col("x") * col("x"), 9).cast(DL)).as("sx2"),
        sum(round(col("y") * col("y"), 9).cast(DL)).as("sy2"))
      .select(col("n"),
        round((col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n").cast("double") * col("sx2").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("zipf_slope"),
        round(((col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          * (col("n").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")))
          / ((col("n").cast("double") * col("sx2").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
            * (col("n").cast("double") * col("sy2").cast("double")
              - col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("r2"))
  }

  /** K31: deterministic corpus sharding — the balance report a corpus
    * build runs before writing N output shards. Shard assignment is a
    * pure function of doc_id (the [[sampleHashBernoulli]] md5 draw,
    * mod 16): reproducible across runs, stable under repartitioning
    * and task retries, and needing no coordination — the properties a
    * `rand()`- or `monotonically_increasing_id()`-based sharder loses
    * at 1000 executors. Per shard: document count and token mass (the
    * two balance measures that matter — a shard-skewed corpus skews
    * training-data loaders). One narrow projection + one partial-agg
    * pass; at production scale the same key feeds
    * `df.repartition(n, shard)` for the physical write. */
  def corpusShard(spark: SparkSession, sfDir: String): DataFrame = {
    val draw = conv(substring(md5(concat(lit("shard"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    t(spark, sfDir, "documents")
      .select(pmod(draw, lit(16L)).cast("int").as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("shard"))
  }

  /** K42: deterministic fixed-size uniform sample — the distributed
    * reservoir: each doc draws a priority (the md5 32-bit draw of
    * [[sampleHashBernoulli]], salt 'res') and the corpus keeps the k
    * smallest priorities globally. Equivalent in distribution to
    * reservoir sampling but with none of its sequential state: the
    * draw is a pure function of doc_id, so the sample is reproducible
    * across runs, partitionings, and retries, and the physical plan is
    * TakeOrderedAndProject — each partition keeps its local top-k and
    * only k rows per partition reach the driver-side merge, never a
    * global sort. The full-row payload joins AFTER selection at scale;
    * at fixture size the projection is narrow enough to carry
    * through. */
  def sampleReservoir(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 100
    val draw = conv(substring(md5(concat(lit("res"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    t(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        draw.as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)
      .orderBy(col("doc_id"))
  }

  /** K43: weighted corpus mixing — the rebalancing step that turns raw
    * per-language availability into a target mix (the epoch-weighting
    * every multilingual training corpus applies). Target shares are
    * integer per-mille weights over a budget of half the corpus;
    * per-language acceptance thresholds are derived with pure BIGINT
    * arithmetic (threshold = 2^32 · target / available, capped at
    * 2^32 — a language short of its target keeps everything, reported
    * as fill_ratio < 1 rather than silently upsampled), and each doc's
    * keep decision is the [[sampleHashBernoulli]] md5 draw (salt
    * 'mix') against its language's threshold: reproducible, stateless,
    * retry-stable. The language-cardinality frames (counts,
    * thresholds) are broadcast BY CONSTRUCTION — the lang domain is
    * bounded (~hundreds at web scale), unlike the user-cardinality
    * frames the event queries must never hint. Two partial-agg passes
    * + one broadcast join. */
  /** The keep-probability threshold of [[corpusMix]]:
    * min(2^32, ⌊2^32·n_target/n_docs⌋), exposed for the overflow pin in
    * `LlmDataSpec`. The n_target ≥ n_docs branch short-circuits to the
    * cap (the true quotient is ≥ 2^32 there), so the multiply only
    * runs when the result fits; the multiply itself goes through
    * DECIMAL(38,0) because 2^32·n_target overflows BIGINT once a
    * language's target reaches 2^31 docs (~2.1 B — web scale), where
    * non-ANSI Spark would wrap silently to a NEGATIVE threshold and
    * keep zero docs (round-11 advice). The oracle mirrors with HUGEINT
    * — both are exact integer math, same value. */
  private[graft] val mixThreshold = expr(
    """CASE WHEN n_target >= n_docs THEN CAST(4294967296 AS BIGINT)
      |  ELSE CAST((CAST(n_target AS DECIMAL(38,0)) * 4294967296)
      |    DIV n_docs AS BIGINT) END""".stripMargin)

  def corpusMix(spark: SparkSession, sfDir: String): DataFrame = {
    val wpm = Map("de" -> 150L, "en" -> 400L, "es" -> 150L,
      "fr" -> 150L, "zh" -> 150L)
    val docs = t(spark, sfDir, "documents").select(col("doc_id"), col("lang"))
    val wExpr = wpm.foldLeft(lit(0L)) { case (acc, (l, w)) =>
      when(col("lang") === l, lit(w)).otherwise(acc) }
    // all integer arithmetic via DIV (long division — Spark's `/` is
    // IEEE double division, a floor-rounding hazard DuckDB's `//`
    // doesn't share); the budget/threshold math must be bit-exact in
    // both engines
    val perLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("total", sum(col("n_docs")).over(Window.partitionBy()))
      .withColumn("wpm", wExpr)
      .withColumn("n_target", expr("(wpm * (total DIV 2)) DIV 1000"))
      .withColumn("threshold", mixThreshold)
      .select(col("lang"), col("n_docs"), col("n_target"), col("threshold"))
    val draw = conv(substring(md5(concat(lit("mix"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    docs.join(broadcast(perLang), Seq("lang"))
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("n_target")).as("n_target"),
        sum(when(draw < col("threshold"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("n_docs"), col("n_target"), col("n_kept"),
        // a language outside the weight map has target 0 (kept 0) —
        // NULL fill, not a divide-by-zero (DuckDB throws where Spark
        // would return NULL; the guard keeps both engines identical)
        when(col("n_target") === 0, lit(null).cast("double"))
          .otherwise(dbl(dec(col("n_kept")) / col("n_target")))
          .as("fill_ratio"))
      .orderBy(col("lang"))
  }

  /** K55: temperature-scaled mixture resampling — the α = 0.5
    * flattening every multilingual pretraining corpus applies (public:
    * the p_l ∝ (n_l/N)^α schedule of the XLM-R / mT5 line): sampling
    * proportional to raw counts starves low-resource languages, while
    * uniform over-trains them, so targets follow the sqrt of
    * availability. Same budget (half the corpus), acceptance
    * ([[mixThreshold]] per-language 2^32 thresholds, md5 draw salt
    * 'temp') and no-upsampling discipline as [[corpusMix]] — the only
    * new ingredient is the weight: round(sqrt(n_l)·10⁶) as BIGINT, so
    * the share arithmetic stays EXACT integer math (sqrt is
    * IEEE-correctly-rounded in both engines; the rounded weight makes
    * the cross-language sum order-free where a float Σ√n would
    * hash-flap). Targets are ⌊budget·w_l / Σw⌋ via DECIMAL(38,0) — the
    * BIGINT product wraps at web scale (weight ~2^46 × budget ~2^40).
    * Flattening and budget laws pinned in `LlmDataSpec`. */
  def sampleTemperature(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents").select(col("doc_id"), col("lang"))
    // lang-cardinality frame: bounded domain, broadcast by construction
    val perLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("weight",
        expr("CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"))
      .withColumn("total", sum(col("n_docs")).over(Window.partitionBy()))
      .withColumn("wsum", sum(col("weight")).over(Window.partitionBy()))
      .withColumn("n_target", expr(
        "CAST((CAST(weight AS DECIMAL(38,0)) * (total DIV 2)) DIV wsum AS BIGINT)"))
      .withColumn("threshold", mixThreshold)
      .select(col("lang"), col("n_docs"), col("weight"),
        col("n_target"), col("threshold"))
    val draw = conv(substring(md5(concat(lit("temp"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    docs.join(broadcast(perLang), Seq("lang"))
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"),
        max(col("weight")).as("weight"),
        max(col("n_target")).as("n_target"),
        sum(when(draw < col("threshold"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("lang"), col("n_docs"), col("weight"), col("n_target"),
        col("n_kept"),
        when(col("n_target") === 0, lit(null).cast("double"))
          .otherwise(dbl(dec(col("n_kept")) / col("n_target")))
          .as("fill_ratio"))
      .orderBy(col("lang"))
  }

  /** K61: epoch / REPEAT planning — the data-constrained scaling
    * budget (Muennighoff et al. 2023, public: repeated data is
    * near-as-good as fresh for up to ~4 epochs, then decays): given a
    * training budget of 2× the corpus token mass and per-language
    * targets following the K55 temperature weights (√availability,
    * over TOKENS here), each language fills its target by repeating
    * its available tokens up to the 4-epoch cap; report target vs
    * effective tokens, the repeat factor, and the fill ratio — the
    * shortfall is what a new crawl must supply. All share arithmetic
    * is exact integer (the K55 discipline): BIGINT √-weights,
    * DECIMAL(38,0) target products (BIGINT wraps at web scale), one
    * proven decimal division per output ratio.
    *
    * Scale shape: one narrow token-count projection + one partial agg
    * to the bounded language domain; the global sums are windows over
    * that lang-cardinality frame (broadcast by construction — the K43
    * precedent), never over the corpus. */
  def corpusEpochs(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("avail_tokens"))
      .withColumn("weight", expr(
        "CAST(round(sqrt(CAST(avail_tokens AS DOUBLE)) * 1000000) AS BIGINT)"))
      .withColumn("tsum", sum(col("avail_tokens")).over(Window.partitionBy()))
      .withColumn("wsum", sum(col("weight")).over(Window.partitionBy()))
      .withColumn("target_tokens", expr(
        "CAST((CAST(weight AS DECIMAL(38,0)) * tsum * 2) DIV wsum AS BIGINT)"))
      .withColumn("effective_tokens",
        least(col("target_tokens"), col("avail_tokens") * 4))
      .select(col("lang"), col("n_docs"), col("avail_tokens"),
        col("target_tokens"), col("effective_tokens"),
        dbl(dec(col("effective_tokens")) / col("avail_tokens")).as("epochs"),
        when(col("target_tokens") === 0, lit(null).cast("double"))
          .otherwise(dbl(dec(col("effective_tokens")) / col("target_tokens")))
          .as("fill_ratio"))
      .orderBy(col("lang"))

  /** K56: corpus drift — total-variation token-distribution divergence
    * between two corpus slices (even- vs odd-numbered sources): the
    * monitoring query a production pipeline runs when a new crawl
    * batch lands, answering "which tokens' frequencies moved". The
    * per-token contribution |p_a − p_b| = |c_a·N_b − c_b·N_a|/(N_a·N_b)
    * is ranked by its EXACT integer numerator — no logs, no float
    * terms anywhere, so the result can't hash-flap under any
    * aggregation order (the reason TV distance is used here over KL:
    * identical discriminative ranking for drift triage, zero
    * portability risk). Output: top-20 drifting tokens with both
    * counts and the numerator.
    *
    * Scale shape: tokens come from the shared `tokens_v1` cache; one
    * doc_id-keyed join against the 2-column side map, one vocab-keyed
    * partial agg, grand totals as a 1-row broadcast (never a global
    * window — that would serialize the vocabulary through one task),
    * then a top-20 TakeOrdered. The numerator runs in DECIMAL(38,0)
    * (c·N overflows BIGINT at web scale) and the fixture-range result
    * casts back to BIGINT. */
  def corpusDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val sides = t(spark, sfDir, "documents")
      .select(col("doc_id"),
        (pmod(expr("CAST(substring(source, 4) AS BIGINT)"), lit(2L)) === 0L)
          .as("is_a"))
    val counts = ensureTokens(spark, sfDir).select(col("doc_id"), col("tok"))
      .join(sides, Seq("doc_id"))
      .groupBy(col("tok"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("c_b"))
    val tot = counts.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    counts.crossJoin(broadcast(tot))
      .select(col("tok"), col("c_a"), col("c_b"),
        expr("""CAST(abs(CAST(c_a AS DECIMAL(38,0)) * n_b
               |  - CAST(c_b AS DECIMAL(38,0)) * n_a) AS BIGINT)"""
          .stripMargin).as("drift_num"))
      .orderBy(col("drift_num").desc, col("tok"))
      .limit(20)
  }

  /** K44: deterministic holdout split — train/val/test assignment as a
    * pure function of doc_id (the [[sampleHashBernoulli]] md5 draw,
    * salt 'split', mod 1000): test < 10 (1%), val < 30 (next 2%),
    * train otherwise. The properties that make a split trustworthy at
    * scale: disjoint and exhaustive BY CONSTRUCTION (one draw, three
    * ranges), reproducible across runs/retries/repartitionings, and
    * stable as the corpus grows (an existing doc never changes split
    * when new docs arrive — the failure mode of percentile- or
    * rand()-based splits that silently leaks test docs into training).
    * Per (split, lang): doc count and token mass. One narrow
    * projection + one partial-agg pass. */
  /** K47: bigram-LM surprisal — the CONDITIONAL-probability companion
    * of K40's unigram score: per document, the mean −ln p(w₂|w₁) of
    * its adjacent token pairs under the corpus bigram model
    * p(w₂|w₁) = c(w₁w₂)/c(w₁·). Unigram surprisal scores rare WORDS;
    * bigram surprisal scores rare TRANSITIONS — shuffled/garbled text
    * built from common words (which K40 scores as ordinary) lights up
    * here, and rote boilerplate scores near zero. Corpus-fit, so every
    * observed pair has nonzero probability (no smoothing constant to
    * coordinate). Exactness discipline: each −ln p term rounds to 9 dp
    * and sums as exact decimal (the K40/text_entropy walk), one IEEE
    * divide + 6 dp final round. Docs with < 2 tokens report 0 bigrams,
    * NULL surprisal.
    *
    * Scale shape: the bigram relation is materialized ONCE in the
    * [[ensureBigrams]] cache (shared with K39 — three consumers read
    * it here: the pair counts, the prefix counts, and the per-doc
    * scoring join; without materialization each would re-run the
    * explode + doc-partitioned lead window, the query's dominant
    * cost, from the scan), then two partial aggs over (vocab²)- and
    * vocab-cardinality keys and one term join back on the pair key
    * (AQE broadcasts the term table while the vocabulary is small; at
    * web vocab it degrades to a hash join on the pair key, never a
    * cartesian). */
  def textSurprisalBigram(spark: SparkSession, sfDir: String): DataFrame = {
    val DL = DecimalType(28, 9)
    val bg = ensureBigrams(spark, sfDir)
    // r22 adjudication (guide §1.2): deriving c1 from c12
    // (c(w1·) = Σ_w2 c(w1,w2) — one bg aggregation pass instead of two)
    // was implemented two ways and BOTH measured worse locally (Prof
    // min-of-5: checkpointed c12 0.85 → 0.97 s, ReuseExchange fold
    // 0.85 → 1.00 s): the c12 → c1 dependency chain serializes what the
    // committed shape runs as two CONCURRENT aggregations of the
    // (cached, small) bigram relation. At bg ≫ vocab² cluster scale the
    // fold is the right trade; reverted here per the measured numbers.
    val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val terms = c12.join(c1, Seq("w1"))
      .select(col("w1"), col("w2"),
        round(-log(col("c12").cast("double") / col("c1")), 9).as("term"))
    val perDoc = bg.join(terms, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("term").cast(DL)).cast("double") / count(lit(1)), 6)
          .as("surprisal"))
    t(spark, sfDir, "documents").select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("surprisal"))
      .orderBy(col("doc_id"))
  }

  /** K46: quality-weighted (importance) sampling — the SOFT form of
    * quality pruning (the public CCNet/FineWeb idea): instead of a
    * hard keep/drop gate, each doc draws a keep probability from its
    * quality tier — in-band token count (20-80, the K26 band) and
    * stopword mass map to a per-mille weight in {300, 500, 800,
    * 1000} — and the keep decision is the K28 md5 draw (salt 'qw')
    * against that weight: low-quality text is down-sampled, not
    * erased, preserving distributional coverage. Deterministic per
    * doc_id (retry/repartition-stable, no RNG coordination). Output:
    * per-tier doc count, kept count, realized rate — the sampling
    * audit a pipeline records. One narrow pass + one partial agg. */
  def sampleQualityWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val draw = pmod(conv(substring(md5(concat(lit("qw"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"), lit(1000L))
    // one projection: the tier is a single expression over one split —
    // no intermediate toks/n_stop columns for the optimizer to carry
    val toks = split(col("text"), " ")
    val nStop = size(filter(toks, tk => tk.isin(stop.map(s => s: Any): _*)))
    val keepPm = when(size(toks).between(20, 80), lit(800)).otherwise(lit(300)) +
      when(nStop >= 2, lit(200)).otherwise(lit(0))
    t(spark, sfDir, "documents")
      .select(col("doc_id"), keepPm.as("keep_pm"))
      .groupBy(col("keep_pm"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(draw < col("keep_pm"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("keep_pm"), col("n_docs"), col("n_kept"),
        dbl(dec(col("n_kept")) / col("n_docs")).as("rate"))
      .orderBy(col("keep_pm"))
  }

  /** THE K44/K65 split assignment — one definition, used by both the
    * split itself ([[splitHoldout]]) and its leakage audit
    * ([[splitLeakage]]): md5-draw on the salted doc id, permille
    * bucket, 10/20/970 test/val/train thresholds. Shared so the audit
    * can never silently audit a DIFFERENT split than the one K44
    * produces (round-14 advice — two inlined copies of the hash drift
    * independently with no test failing). */
  private def splitAssign: Column = {
    val draw = conv(substring(md5(concat(lit("split"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val bucket = pmod(draw, lit(1000L))
    when(bucket < 10, "test").when(bucket < 30, "val").otherwise("train")
  }

  def splitHoldout(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "documents")
      .select(
        splitAssign.as("split"),
        col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  /** K65: train/test split LEAKAGE audit — the cross-split near-dup
    * check every evaluation pipeline must run (public: the GPT-3 and
    * C4/Pile papers both report post-hoc train/test overlap; the
    * lesson is to AUDIT the split, not assume hashing made it clean):
    * K44's hash split assigns documents independently of content, so
    * a near-duplicate pair can straddle the boundary — the eval-set
    * member is then effectively IN the training set and the benchmark
    * number is contaminated. Per (split, split) category pair: the
    * number of verified near-dup pairs (the shared K6 ≥ 0.5-Jaccard
    * relation) whose members land in those splits, with the
    * cross-split rows flagged as leaks.
    *
    * Scale shape: the pair relation is the build-once `pairs_v1`
    * cache; split assignment is a pure hash of doc_id computed in the
    * projection (no join against K44 needed); two id-keyed joins fold
    * the split labels onto the pairs, then one ≤ 6-key partial agg. */
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val splits = t(spark, sfDir, "documents")
      .select(col("doc_id"), splitAssign.as("split"))
    ensurePairs(spark, sfDir).select(col("doc_a"), col("doc_b"))
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sa")),
        Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("split_lo"),
        greatest(col("sa"), col("sb")).as("split_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("split_lo") =!= col("split_hi"))
      .orderBy(col("split_lo"), col("split_hi"))
  }

  /** K66: per-source DATASET CARD — the datasheet row every corpus
    * release ships (Gebru et al. 2021 "Datasheets for Datasets";
    * the Pile / Dolma papers each publish exactly this table): one
    * row per source with its document count, token mass, corpus
    * share, exact-duplicate membership rate, language breadth, and
    * dominant language. It is the at-a-glance answer to "what am I
    * actually training on" — and the first place a mix regression
    * shows up between releases (K56 drift-checks tokens; this
    * card-checks provenance).
    *
    * One scan computes everything: doc-level facts (token count, text
    * hash) in the projection, duplicate membership by a window over
    * the 256-bit hash (text never shuffles — the K60 discipline),
    * then a single per-source aggregate; the dominant language rides
    * the same pass as a `max_by` over per-(source, lang) counts.
    * Exact-decimal shares. */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    val byHash = Window.partitionBy(col("text_sha"))
    val docs = t(spark, sfDir, "documents")
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        sha2(col("text"), 256).as("text_sha"))
      .withColumn("is_dup_member", count(lit(1)).over(byHash) > 1)
    val perLang = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val domLang = perLang.groupBy(col("source"))
      .agg(min_by(col("lang"),
        struct((-col("c")).as("nc"), col("lang"))).as("top_lang"),
        countDistinct(col("lang")).as("n_langs"))
    val card = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(when(col("is_dup_member"), 1L).otherwise(0L)).as("n_dup_docs"))
    val total = card.agg(sum(col("n_tokens")).as("tok_total"))
    card.join(domLang, Seq("source"))
      .crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        dbl(dec(col("n_tokens")) / col("tok_total")).as("token_share"),
        dbl(dec(col("n_dup_docs")) / col("n_docs")).as("dup_rate"),
        col("n_langs"), col("top_lang"))
      .orderBy(col("source"))
  }

  /** Build-once token relation for the text-analysis family — the
    * production shape of a text pipeline: tokenize the corpus ONCE,
    * persist the (doc_id, pos, tok, nxt) relation, and run every
    * token-level statistic off the stored relation instead of paying
    * the explode (and, for adjacency, the doc-partitioned window —
    * the family's dominant cost) per query. Seven registered queries
    * consume it ([[textTokensTopk]], [[textSurprisal]], [[textTfidf]],
    * [[textRepetition]], [[textEntropy]], [[textBigrams]],
    * [[textSurprisalBigram]]); results are row-identical to the
    * self-contained tokenize-per-query plans (the oracle SQL is
    * untouched and every consumer stays hash-green), because the
    * relation is a pure function of the same `documents.parquet` the
    * oracle reads — content-keyed and version-tagged exactly like
    * [[ensurePairs]], so a regenerated fixture or changed tokenizer
    * can never serve stale tokens.
    *
    * Two sub-relations, built in one cache commit:
    *  - `tokens`: posexplode of the space-split (the " "-delimiter
    *    family: K5/K40/K33/K17/K27 keep empty tokens — their oracles
    *    do too), plus `nxt` = the following token (a lead window paid
    *    once at build, never at read).
    *  - `bigrams`: the `\s+`-split nonempty adjacency (doc_id, w1, w2)
    *    — the K39/K47 tokenization, which drops empty tokens before
    *    forming pairs.
    */
  def materializeTokens(spark: SparkSession, sfDir: String, dir: String): Unit = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    t(spark, sfDir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .write.mode("overwrite").parquet(s"$dir/tokens")
    t(spark, sfDir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), "\\s+")).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), col("tok").as("w1"), col("nxt").as("w2"))
      .write.mode("overwrite").parquet(s"$dir/bigrams")
  }

  private def tokensDir(spark: SparkSession, sfDir: String): String =
    FixtureCache.ensure(spark, "tokens_v1", sfDir,
      Seq(s"$sfDir/documents.parquet")) { tmp =>
      materializeTokens(spark, sfDir, tmp)
    }

  /** The cached (doc_id, pos, tok, nxt) space-split token relation. */
  def ensureTokens(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${tokensDir(spark, sfDir)}/tokens")

  /** The cached (doc_id, w1, w2) nonempty-token adjacency relation. */
  def ensureBigrams(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${tokensDir(spark, sfDir)}/bigrams")

  /** Exact-Jaccard verification of candidate pairs at ≥ 0.5 — shared by
    * the min-shingle ([[dedupNgramJaccard]]) and banded-MinHash
    * ([[dedupMinhash]]) generators. Melts each pair to its two member
    * ids and joins the per-doc shingle sets ONCE (two separate
    * join-backs would recompute them per branch); after regrouping,
    * sort_array puts the doc_a member first (doc_a < doc_b). */
  private def jaccardVerified(cand: DataFrame, docs: DataFrame): DataFrame = {
    // r22 (guide §4.4 double-evaluation): the ≥ 0.5 filter used to be
    // substituted below the n_int/jaccard projections, so the executed
    // plan evaluated array_intersect THREE times per pair (twice inside
    // the Filter — n_union references n_int — and once more in the
    // output Project). The intersection is computed ONCE inside an
    // explode(array(struct(..))) Generate: generator output cannot be
    // substituted into a pushed-down predicate (the fn_json barrier),
    // so filter and output both read the scalar. explode of a 1-element
    // array is row-for-row; the jaccard expression tree is unchanged
    // (same int subtraction, same DECIMAL(18,4)/(10,0) division).
    pairShingleSides(cand, docs)
      .select(col("doc_a"), col("doc_b"),
        explode(array(struct(
          size(array_intersect(col("sh_a"), col("sh_b"))).as("n_int"),
          (size(col("sh_a")) + size(col("sh_b"))).as("sz")))).as("m"))
      .withColumn("jaccard",
        dbl(dec(col("m.n_int")) / (col("m.sz") - col("m.n_int"))))
      .filter(col("jaccard") >= 0.5d)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // NOT sorted: the registered pair queries add their presentation
    // ORDER BY themselves; compositions (components, keep-best,
    // end-to-end) consume the pair set unordered — sorting here would
    // charge every downstream query a global range exchange for an
    // ordering it immediately destroys
  }

  /** The pair-verification melt: each (doc_a, doc_b) candidate melts to
    * its two member ids and joins the per-doc shingle sets ONCE (two
    * separate join-backs would recompute them per branch); after
    * regrouping, sort_array puts the doc_a member first (doc_a <
    * doc_b). Shared by [[jaccardVerified]] and [[dedupContainment]] —
    * one movement, two similarity measures. */
  private def pairShingleSides(cand: DataFrame, docs: DataFrame): DataFrame =
    cand
      .select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(docs, Seq("doc_id"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("shingles"))))
        .as("members"))
      .select(col("doc_a"), col("doc_b"),
        element_at(col("members"), 1).getField("shingles").as("sh_a"),
        element_at(col("members"), 2).getField("shingles").as("sh_b"))

  /** Near-dup detection: token-trigram shingles, candidates bucketed by
    * min-shingle (k=1 identity-hash MinHash band — no all-pairs), Jaccard
    * ≥ 0.5 on distinct-shingle sets. Oracle-checkable because the bucket
    * function is expressible in portable SQL; the scale path with a
    * skew-free candidate generator is [[MinHash]] / [[dedupMinhash]]. */
  def dedupNgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    ensurePairs(spark, sfDir).orderBy(col("doc_a"), col("doc_b"))

  /** K52: incremental dedup — classify a NEW ingest batch against the
    * EXISTING corpus, the production shape at 100 TB: the stored
    * corpus is never re-paired against itself (no old×old) and the
    * batch members are not paired among themselves here (no new×new —
    * that is a separate, batch-sized K6 run); only old×new candidates
    * are generated, by probing each new document's min-shingle bucket
    * against the STORED capped bucket membership (the index a
    * production pipeline persists; cap per [[Buckets.MaxBucket]] with
    * deterministic min-id rank, exactly the stored-side discipline).
    * The fixture's "new batch" is the deterministic doc_id % 10 slice.
    *
    * Per new document: candidate count, duplicate count at the K6
    * Jaccard ≥ 0.5 threshold, the best duplicate score and its
    * (min-id tie-broken) existing partner, and the novelty verdict —
    * the accept/reject row an ingest pipeline emits per arriving doc.
    *
    * Verify-path scratch discipline (r19 verdict #5 — the sf10 reps
    * spread 27–72 s because the verify melt's shuffle scratch competed
    * with itself): the pair verification runs over SIGNATURE-HASHED
    * shingle sets — each distinct shingle becomes its xxhash64 LONG
    * before the per-doc `collect_set`, so the per-pair melt ships
    * 8-byte elements instead of ~25-byte trigram strings (~3× less
    * shuffle+spill for the identical plan shape). |A∩B|/|A∪B| over the
    * hashed sets equal the string-set values exactly unless two
    * distinct trigrams of one pair's union collide in 64 bits
    * (~1e-13 per pair; the oracle gate re-verifies the exact values at
    * both driver scales). The bucket stays the min STRING shingle —
    * hashing must never change WHICH candidates pair up. A no-array
    * reformulation (per-(pair, shingle) counts) was measured 3× slower
    * at sf10 — two wide shuffles of the same melt rows cost more than
    * one hashed array aggregation — and discarded.
    * Shapes: one bucket probe join (bucket-keyed, capped), the shared
    * doc-id melt verification (one join, never doc×doc), two
    * partial-agg passes; the new-batch frame is batch-sized. */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val rows = MinHash.shingleRows(docs, "doc_id", "text")
    val isNew = col("doc_id") % 10 === 0
    val buckets = rows.groupBy(col("doc_id"))
      .agg(min(col("shingle")).as("bucket"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
    val oldIdx = buckets.filter(!isNew)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Buckets.MaxBucket)
      .select(col("bucket"), col("doc_id").as("doc_a"))
    // normalize orientation BEFORE the melt: the melt assigns sh_a/sh_b
    // by sorted doc_id, so its contract is doc_a < doc_b; old/new sides
    // are re-derived after scoring from the batch predicate (safe: the
    // two sides are disjoint by construction)
    val cand = buckets.filter(isNew)
      .select(col("bucket"), col("doc_id").as("doc_b"))
      .join(oldIdx, Seq("bucket"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    val hashedSets = rows
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy(col("doc_id")).agg(collect_set(col("h")).as("shingles"))
    // r22 (guide §4.4 double-evaluation — the jaccardVerified fix):
    // CollapseProject used to inline n_int into n_union into j, so the
    // collapsed projection evaluated array_intersect TWICE per melted
    // pair; the Generate barrier pins it to one evaluation. Identical
    // j expression tree (n_union ≡ sz − n_int).
    val scored = pairShingleSides(cand, hashedSets)
      .select(col("doc_a"), col("doc_b"),
        explode(array(struct(
          size(array_intersect(col("sh_a"), col("sh_b"))).as("n_int"),
          (size(col("sh_a")) + size(col("sh_b"))).as("sz")))).as("m"))
      .select(
        when(col("doc_a") % 10 === 0, col("doc_a")).otherwise(col("doc_b"))
          .as("doc_new"),
        when(col("doc_a") % 10 === 0, col("doc_b")).otherwise(col("doc_a"))
          .as("doc_old"),
        dbl(dec(col("m.n_int")) / (col("m.sz") - col("m.n_int"))).as("j"))
    val agg = scored.groupBy(col("doc_new"))
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("j") >= 0.5, 1L).otherwise(0L)).as("n_dups"),
        max(when(col("j") >= 0.5, col("j"))).as("best_jaccard"),
        // best partner among DUP rows only: non-dup rows get a key
        // that sorts strictly after every dup key and a NULL value
        min_by(when(col("j") >= 0.5, col("doc_old")),
          struct(when(col("j") >= 0.5, -col("j"))
            .otherwise(lit(Double.MaxValue)).as("nj"), col("doc_old")))
          .as("best_old"))
    docs.filter(isNew).select(col("doc_id").as("doc_new"))
      .join(agg, Seq("doc_new"), "left")
      .select(col("doc_new"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("best_jaccard"), col("best_old"),
        (coalesce(col("n_dups"), lit(0L)) === 0L).as("is_novel"))
      .orderBy(col("doc_new"))
  }

  /** The K6 pair relation WITHOUT the presentation sort — what the
    * compositions ([[dedupClusters]], [[dedupKeepBest]],
    * [[dedupEndToEnd]]) consume. */
  private def ngramPairsUnsorted(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardPairs(MinHash.shingleRows(
      t(spark, sfDir, "documents"), "doc_id", "text"))

  /** Shared pair-set materialization — the production shape of the
    * dedup family: the shingle → bucket → Jaccard-verify pipeline is
    * by far the most expensive stage of every composition, and a real
    * pipeline runs it ONCE, persists the (doc_a, doc_b, jaccard)
    * relation, and derives clusters, keep-best picks, source overlap,
    * and the end-to-end summary from the stored pairs. The registered
    * dedup family (K6/K19/K22/K34/K36) reads through the build-once
    * [[ensurePairs]] cache of exactly this relation; oracle
    * equivalence is carried by `MaterializedPairsSpec`, which proves
    * the cached/`*FromPairs` paths row-identical to a fresh
    * self-contained run. At 100 TB the pair relation is
    * tiny next to the corpus (only near-dup pairs survive
    * verification), so the amortization is nearly the full chain
    * cost × (number of consumers − 1). */
  def materializePairs(spark: SparkSession, sfDir: String, dir: String): Unit =
    ngramPairsUnsorted(spark, sfDir).write.mode("overwrite").parquet(dir)

  /** Read a pair relation persisted by [[materializePairs]]. */
  def pairsFrom(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Single source of truth for the pair-cache name — downstream
    * derived caches embed it so a version bump here re-keys them too
    * (labels derived from v2 pairs must never be served from a v1
    * label cache). */
  private val PairsCacheName = "pairs_v1"

  /** Deterministic per-fixture cache dir for [[ensurePairs]] — keyed
    * by BOTH the fixture path and the documents parquet's content
    * identity (file names/sizes/mtimes via
    * [[FixtureCache.contentKey]]), so a fixture regenerated at the
    * same path gets a fresh cache instead of stale pairs. The `v1`
    * component versions the pipeline: bump it when the pair semantics
    * change so a stale cache is never served. */
  def pairsCacheDir(spark: SparkSession, sfDir: String): String =
    FixtureCache.cacheDir(spark.sessionState.newHadoopConf(),
      PairsCacheName, sfDir, Seq(s"$sfDir/documents.parquet"))

  /** Build-once pair-relation bootstrap through [[FixtureCache]]
    * (content-keyed dir, marker committed inside the staging dir, then
    * one atomic whole-dir rename — a crashed or racing build is
    * rebuilt or discarded, never served and never interleaved): the K6
    * shingle → bucket → Jaccard-verify pipeline is by far the most
    * expensive stage of every dedup composition, and a real pipeline
    * runs it ONCE and derives everything downstream from the stored
    * (doc_a, doc_b, jaccard) relation. Every registered consumer (K6
    * itself, K19 clusters, K22 end-to-end, K34 keep-best, K36 source
    * overlap) reads through this cache; results are row-identical to
    * the self-contained pipeline (`MaterializedPairsSpec`), so oracle
    * semantics are untouched. */
  def ensurePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = FixtureCache.ensure(spark, PairsCacheName, sfDir,
      Seq(s"$sfDir/documents.parquet")) { tmp =>
      materializePairs(spark, sfDir, s"$tmp/pairs")
    }
    pairsFrom(spark, s"$dir/pairs")
  }

  /** Build-once connected-component labels over the shared pair cache
    * — the closure ([[Components.connected]]) is the iterative,
    * multi-job stage of the dedup chain, and three registered
    * compositions consume the SAME labels ([[dedupClusters]],
    * [[dedupKeepBest]], [[dedupEndToEnd]]); without this each re-ran
    * the full large-star/small-star fixpoint from the pair store.
    * Same content-key discipline as `pairs_v1` (anchor + dependency
    * mtimes), so a regenerated fixture or re-materialized pair
    * relation can never serve stale labels. Row identity between the
    * cached and direct closures is pinned in `MaterializedPairsSpec`
    * (the `*FromPairs` forms still compute the closure inline). */
  def ensureComponents(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = FixtureCache.ensure(spark,
      s"components_${PairsCacheName}_${Components.Version}", sfDir,
      Seq(s"$sfDir/documents.parquet")) { tmp =>
      Components.connected(
          ensurePairs(spark, sfDir).select(col("doc_a"), col("doc_b")),
          "doc_a", "doc_b")
        .write.mode("overwrite").parquet(s"$tmp/labels")
    }
    spark.read.parquet(s"$dir/labels")
  }

  /** K6 core over (id, shingle) rows, cap-parameterized for the
    * adversarial-skew spec (`BucketCapSpec`). Candidate ids are
    * gathered per min-shingle bucket through the skew-capped
    * [[Buckets.members]] (round-6 verdict #1: an uncapped collect_list
    * of full shingle arrays is one giant row + quadratic expansion the
    * moment a corpus-common min-shingle appears — the exact shape the
    * cap exists to prevent, and the one MinHash/SimHash/AnnLsh already
    * use). Only bounded id lists are collected; the shingle sets join
    * back at verification exactly like [[dedupMinhash]]. Each doc has
    * exactly one bucket (its min shingle), so no cross-bucket duplicate
    * pairs arise and no distinct is needed. The oracle mirrors the cap
    * with the same keep-the-cap-smallest-ids rank. */
  def ngramJaccardPairs(rows: DataFrame,
      cap: Int = Buckets.MaxBucket): DataFrame = {
    // the bucket branch needs only the min shingle — a plain min-agg
    // (map-side partial, no array building); the full collect_set
    // relation is built once, on the verification branch (min over
    // non-distinct rows equals min over the set, so both branches see
    // the same bucket function)
    val buckets = rows.groupBy(col("doc_id")).agg(min(col("shingle")).as("bucket"))
    val cand = Buckets.members(buckets,
        Seq("bucket"), col("doc_id"), col("doc_id"), cap)
      .select(explode(Buckets.sortedPairs(col("ids"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    jaccardVerified(cand, MinHash.shingleSets(rows, "doc_id").drop("bucket"))
  }

  /** K2: banded-MinHash near-dup pairs — [[MinHash.candidatePairs]] for
    * candidate generation (8 bands × 4 rows, skew-free LSH buckets), then
    * exact-Jaccard verification at ≥ 0.5. Registered rows-only (the
    * Murmur3 signatures aren't portable SQL); the LSH machinery is
    * unit-tested with planted near-dups in `MinHashSpec`, and precision
    * is exact by construction (only recall depends on the bands). */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    // candidates via the native per-row signature expression (no
    // shingle explode/agg on the LSH branch). r22 (guide §3.4 pre-filter
    // the big side): the verification branch used to shingle-explode and
    // collect_set the ENTIRE corpus, though the inner join consumes only
    // candidate-pair members (near-dups — a vanishing fraction at scale).
    // The tiny pair set is materialized once (iterCheckpoint — the
    // agg_chi_square multi-consumer discipline; eagerly, INSIDE the
    // timed region) and its member ids semi-join-prune the corpus BELOW
    // the shingle explode, so set-building work is proportional to the
    // candidates, not the corpus. The inner join in pairShingleSides
    // never read non-member sets, so the output is unchanged.
    val cand = MinHash.candidatePairsFromText(docs, "doc_id", "text")
      .iterCheckpoint()
    val members = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val rows = MinHash.shingleRows(
      docs.join(members, Seq("doc_id"), "left_semi"), "doc_id", "text")
    jaccardVerified(cand,
        MinHash.shingleSets(rows, "doc_id").drop("bucket"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** SimHash near-dup pairs (Hamming ≤ 3 on 64-bit fingerprints) over
    * document tokens — the constant-space complement to [[dedupMinhash]]
    * (8-byte fingerprint per doc, O(1) verification per candidate).
    * Registered rows-only (xxhash64 isn't portable SQL); mechanics
    * unit-tested with planted near-dups in `SimHashSpec`. */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    SimHash.nearDupPairsFromText(t(spark, sfDir, "documents"),
        "doc_id", "text", maxDist = 3)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Approximate nearest neighbors of vec_id=0 via sign-hyperplane LSH
    * ([[AnnLsh]]) with exact-cosine re-rank — the scale path next to the
    * brute-force [[simTopk]] baseline. Registered rows-only (the
    * fixed-seed Gaussian hyperplanes aren't portable SQL); recall
    * mechanics unit-tested with planted neighbors in `AnnLshSpec`. */
  def simAnnTopk(spark: SparkSession, sfDir: String): DataFrame =
    AnnLsh.annTopK(t(spark, sfDir, "embeddings"), "vec_id", "embedding", 0L, 5)

  /** IVF approximate nearest neighbors of vec_id=0 — the trained
    * coarse-quantizer scale path ([[AnnIvf]]: k-means codebook fit on a
    * seeded sample, assignment table materialized ONCE partitioned by
    * cell, probe 2 of 16 cells via partition pruning, exact-cosine
    * re-rank) beside the LSH variant. The first execution per fixture
    * builds the index ([[AnnIvf.ensureIndex]] — the offline step of a
    * production deployment); every subsequent query reads only the
    * probed partition directories, never re-assigning the corpus.
    * Registered rows-only (k-means cell ids aren't portable SQL);
    * planted-neighbor recall + materialized≡transform equivalence in
    * `AnnIvfSpec`; partition pruning pinned in `PlanAuditSpec`. */
  def simIvfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "embeddings")
    val cacheDir = AnnIvf.ensureIndex(spark, df, "vec_id", "embedding",
      s"$sfDir/embeddings")
    val model = AnnIvf.loadCodebook(AnnIvf.codebookPath(cacheDir))
    val qVec = AnnLsh.queryVector(df, "vec_id", "embedding", 0L)
    AnnIvf.probeIndex(spark, AnnIvf.assignedPath(cacheDir),
      "vec_id", "embedding", qVec, 5, model, excludeId = Some(0L))
  }

  /** K54: PQ-codes approximate nearest neighbors of vec_id=0 — the
    * compressed rung after K18's IVF-Flat ([[AnnPq]]: M=16 per-subspace
    * codebooks fit on a seeded sample, the corpus encoded ONCE to 16
    * 4-bit codes per vector, asymmetric-distance scoring from codes
    * only — the raw vectors never enter the query path, which is what
    * makes ANN work when the vectors themselves are the 100-TB
    * payload). The first execution per fixture builds the code table
    * ([[AnnPq.ensureIndex]]); every subsequent query is a driver-side
    * M×KSub distance table + M lookups per candidate. Registered
    * rows-only (seeded k-means codebooks aren't portable SQL);
    * self-minimum / planted-duplicate / ADC-consistency laws pinned in
    * `AnnPqSpec`, rank agreement with brute force in
    * `GroundTruthSpec`. */
  def simPqTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "embeddings")
    val dim = df.select(size(col("embedding"))).head().getInt(0)
    val dir = AnnPq.ensureIndex(spark, df, "vec_id", "embedding",
      s"$sfDir/embeddings", dim)
    val books = AnnPq.loadCodebooks(spark, s"$dir/codebook")
    val qVec = AnnLsh.queryVector(df, "vec_id", "embedding", 0L)
    AnnPq.topKFromCodes(spark.read.parquet(s"$dir/codes"),
      "vec_id", qVec, books, 5, excludeId = Some(0L))
  }

  /** K57: IVFPQ approximate nearest neighbors of vec_id=0 — the FAISS
    * IVFPQ composition of K18 and K54: the PQ codes stored IN the
    * IVF inverted lists ([[AnnPq.ensureIvfPqIndex]] — cell-partitioned
    * codes table), so the probe partition-prunes to 2 of 16 cells AND
    * scores candidates from 8 B of codes each; neither the corpus
    * scan nor the scoring ever touches a raw vector. The end-state
    * serving shape at 100 TB. Registered rows-only; planted-duplicate
    * law in `AnnPqSpec`, recall pinned in `GroundTruthSpec`. */
  def simIvfPqTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "embeddings")
    val dim = df.select(size(col("embedding"))).head().getInt(0)
    val (lists, books, model) = AnnPq.ensureIvfPqIndex(
      spark, df, "vec_id", "embedding", s"$sfDir/embeddings", dim)
    val qVec = AnnLsh.queryVector(df, "vec_id", "embedding", 0L)
    AnnPq.ivfPqTopK(spark, lists, "vec_id", qVec, books, model, 5,
      excludeId = Some(0L))
  }

  /** K68: EMBEDDING-SPACE contamination screen — the semantic member
    * of the decontamination family (token n-grams K23/K29, Bloom K58
    * catch verbatim/near-verbatim overlap; paraphrased benchmark
    * leakage needs embedding similarity — the screen the GPT-4 and
    * Llama reports describe running beside n-gram checks): benchmark
    * vectors (every 97th vec_id — the held-out set) are compared
    * against corpus vectors WITHIN their shared IVF cell (the K48
    * SemDeDup candidate discipline — cell-bounded, never all-pairs;
    * the benchmark side is ~1% of the corpus, so per-cell volume is
    * |bench_c|·|corpus_c|, linear in the corpus), flagged at
    * cosine ≥ 0.9. Output: one summary row (set sizes, pairs checked,
    * contaminated count, max score). Registered rows-only (seeded
    * k-means cells); planted-contamination hit + the cell-scoped
    * recall caveat pinned in `LlmDataSpec`. */
  def contaminationEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "embeddings")
    val cacheDir = AnnIvf.ensureIndex(spark, df, "vec_id", "embedding",
      s"$sfDir/embeddings")
    val assigned = AnnIvf.readAssigned(spark, cacheDir, "vec_id", "embedding")
    embeddingContaminationScreen(
      assigned.filter(col("vec_id") % 97 === 0),
      assigned.filter(col("vec_id") % 97 =!= 0), tau = 0.9)
  }

  /** The screen core over pre-assigned (vec_id, embedding, cell)
    * frames — separated so the hit/miss laws are pinnable with
    * hand-built cells. Cell-scoped by design: a contaminated pair
    * split across cells is NOT checked (recall follows the IVF
    * assignment — the K48 trade), which the spec pins explicitly. */
  def embeddingContaminationScreen(bench: DataFrame, corpus: DataFrame,
      tau: Double): DataFrame = {
    val b = bench.select(col("cell"), col("vec_id").as("bench_id"),
      col("embedding").as("bv"))
    val c = corpus.select(col("cell"), col("vec_id").as("corpus_id"),
      col("embedding").as("cv"))
    val scored = b.join(c, Seq("cell"))
      .select(AnnLsh.cosine(col("bv").cast("array<double>"),
        col("cv").cast("array<double>")).as("score"))
    b.agg(count(lit(1)).as("n_benchmark"))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("n_corpus"))))
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n_pairs_checked"),
        sum(when(col("score") >= tau, 1L).otherwise(0L))
          .as("n_contaminated"),
        round(max(col("score")), 6).as("max_score"))))
  }

  /** K64: canonical-URL deduplication — the provenance-level dedup
    * every crawl pipeline runs BEFORE any content hashing (public: the
    * C4/CCNet/RefinedWeb pipelines all dedup by normalized URL first;
    * it is orders of magnitude cheaper than text comparison and
    * catches the same page re-crawled under tracking-param/case/slash
    * variants). URLs are synthesized as a pure function of doc_id
    * (case-variant scheme+host, optional trailing slash, utm_*
    * tracking params, a real `ref` param that must SURVIVE, an
    * optional fragment); the canonicalizer lowercases scheme+host
    * (path case is significant per RFC 3986 — only the authority is
    * case-insensitive), strips the fragment and every `utm_*` param
    * (repairing separators), and drops the trailing slash. Per
    * canonical URL: doc count, distinct raw variants, and the kept
    * (min) doc id.
    *
    * Scale shape: canonicalization is a chain of codegen'd
    * regexp_replace over each row (no lambda, no explode — the
    * engine-wide interpreted-lambda rule), then ONE partial-agg pass;
    * the distinct-variant count expands only the group frame. */
  def dedupUrl(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = concat(
      when(col("doc_id") % 3 === 0, lit("HTTPS://WWW.Site"))
        .otherwise(lit("https://www.site")),
      (col("doc_id") % 5).cast("string"), lit(".example.org/p/"),
      (col("doc_id") % 200).cast("string"),
      when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("?utm_source=feed&utm_campaign=x"))
        .when(col("doc_id") % 11 === 0, lit("?ref=home&utm_medium=cpc"))
        .otherwise(lit("")),
      when(col("doc_id") % 13 === 0, lit("#section-2")).otherwise(lit("")))
    t(spark, sfDir, "documents").select(col("doc_id"), raw.as("raw"))
      // fragment → utm params → separator repair (?& / && runs) →
      // dangling ?/& → slash-before-query → trailing slash
      .withColumn("u5", regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(col("raw"),
          "#.*", ""), "utm_[^&#]*", ""), "\\?&+", "?"), "&&+", "&"),
        "[?&]+$", ""))
      .withColumn("u7",
        regexp_replace(regexp_replace(col("u5"), "/+\\?", "?"), "/$", ""))
      .withColumn("sh", substring_index(col("u7"), "/", 3))
      .withColumn("canonical_url",
        concat(lower(col("sh")), expr("substr(u7, length(sh) + 1)")))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw")).as("n_variants"),
        min(col("doc_id")).as("keep_doc_id"))
      .orderBy(col("canonical_url"))
  }

  /** K67: NSW graph-probe approximate nearest neighbors of vec_id=0 —
    * the navigable-small-world rung completing the ANN family's index
    * taxonomy (LSH K13 / IVF K18 / PQ K54 / IVFPQ K57 / graph HERE):
    * the proximity graph (top-[[AnnNsw.M]] cosine neighbors per node
    * among its IVF-cell mates) is layer 0 of the shared K79 index
    * ([[AnnHnsw.ensureIndex]]), searched by fixed-hop greedy beam from
    * the index's per-cell entry points ([[AnnNsw.searchTopK]] — the
    * driver navigates O(beam) ids; every data touch is a pushed-down
    * point-lookup scan, and corpus vectors are read only for scored
    * candidates). Registered rows-only (the graph depends on seeded
    * k-means cells); out-degree/planted-dup/determinism laws in
    * `AnnNswSpec`, recall vs brute force in `GroundTruthSpec`. */
  def simNswTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "embeddings")
    val dir = AnnHnsw.ensureIndex(spark, df, "vec_id", "embedding",
      s"$sfDir/embeddings")
    val qVec = AnnLsh.queryVector(df, "vec_id", "embedding", 0L)
    AnnNsw.searchTopK(spark, dir, df, "vec_id", "embedding", qVec, 5,
      excludeId = Some(0L))
  }

  /** K79: HNSW hierarchical graph-probe nearest neighbors of
    * vec_id=0 — the FULL Malkov-Yashunin shape over K67's
    * single-layer NSW: exponentially thinner upper layers
    * (deterministic 1/16-decay id rule) give the greedy descent
    * long-range moves, so the wide layer-0 beam starts near the
    * answer instead of at arbitrary entry points — the structural
    * reason HNSW beats flat NSW as the corpus grows. Build-once
    * layered index over the shared IVF cells ([[AnnHnsw.ensureIndex]]
    * — the same index K67 walks at layer 0); search descends with a
    * narrow beam then runs the K67 layer-0 beam walk
    * ([[AnnHnsw.searchTopK]]). Registered rows-only (seeded k-means cells);
    * layer/descent/determinism laws in `AnnNswSpec`, recall vs brute
    * force in `GroundTruthSpec`. */
  def simHnswTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "embeddings")
    val dir = AnnHnsw.ensureIndex(spark, df, "vec_id", "embedding",
      s"$sfDir/embeddings")
    val qVec = AnnLsh.queryVector(df, "vec_id", "embedding", 0L)
    AnnHnsw.searchTopK(spark, dir, df, "vec_id", "embedding", qVec, 5,
      excludeId = Some(0L))
  }

  /** K87: BATCH graph-probe ANN — the set-oriented form of K79's
    * point search (the driver-coordinated beam walk is one Spark job
    * per hop, a point-serving path; the batch form must move ALL
    * queries through the hierarchy together). Every
    * 97th vector queries the shared HNSW index at once
    * ([[AnnHnsw.searchTopKBatch]]): per hop ONE frontier×adjacency
    * join + ONE bounded score join + ONE per-query window — job count
    * independent of query count, join volume ≤ queries × beam × M.
    * Per query the walk is exactly [[AnnHnsw.searchTopK]]'s
    * (batch ≡ sequential row identity pinned in `AnnNswSpec`); batch
    * recall vs brute force pinned in `GroundTruthSpec`. Registered
    * rows-only (seeded k-means cells). */
  def simHnswBatchTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "embeddings")
    val dir = AnnHnsw.ensureIndex(spark, df, "vec_id", "embedding",
      s"$sfDir/embeddings")
    val queries = df.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    AnnHnsw.searchTopKBatch(spark, dir, queries, 5)
  }

  /** K89: INCREMENTAL HNSW maintenance — the
    * production ingest shape for a vector index: a 10% batch (the K52
    * `id % 10 == 0` split) is INSERTED into the committed base-corpus
    * index ([[AnnHnsw.insertBatch]] via
    * [[AnnHnsw.ensureInsertedIndex]]) instead of rebuilding — insert
    * cost scales with the batch, not the corpus (at 100 TB a daily
    * re-crawl batch must never re-pay the full index build). The
    * probe is K87's batch descent over the inserted index. Registered
    * rows-only (seeded k-means cells at the layer-0 kernel);
    * empty-batch-identity + determinism laws in `AnnNswSpec`,
    * insert-vs-rebuild recall floors in `GroundTruthSpec`. */
  def simHnswIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "embeddings")
    val isNew = col("vec_id") % 10 === 0
    val dir = AnnHnsw.ensureInsertedIndex(spark, df.filter(!isNew),
      df.filter(isNew), "vec_id", "embedding", s"$sfDir/embeddings")
    val queries = df.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    AnnHnsw.searchTopKBatch(spark, dir, queries, 5)
  }

  /** Embedding-space near-duplicate detection via sign-LSH buckets +
    * exact-cosine verification. The registered query reports the top-10
    * candidate pairs by cosine ([[AnnLsh.topNearDupPairs]]) — the
    * fixture's 500 random embeddings contain no cos ≥ 0.9 pairs, so the
    * production thresholded form ([[AnnLsh.nearDupPairs]] at 0.9, the
    * actual dedup API) returned 0 rows and checked nothing (round-4
    * verdict); the top-N view exercises the identical bucket → verify
    * pipeline with a non-empty, deterministic result. The 0.9-threshold
    * variant stays pinned by planted-duplicate tests in `AnnLshSpec`.
    * Registered rows-only (fixed-seed hyperplanes aren't portable
    * SQL). */
  def dedupEmbedding(spark: SparkSession, sfDir: String): DataFrame =
    AnnLsh.topNearDupPairs(t(spark, sfDir, "embeddings"), "vec_id", "embedding", 10)

  /** K48: SemDeDup-style semantic dedup — embedding-cluster near-dup
    * pruning for the paraphrase-grade duplicates the token-level
    * family misses. Rides the SHARED IVF index
    * ([[AnnIvf.ensureIndex]] — no training of its own), within-cell
    * pairwise only (skew-capped), min-id keep per ≥ tau component.
    * Registered rows-only (cell ids are a seeded-codebook
    * implementation detail); drop/keep mechanics planted-pair-pinned
    * in `SemDedupSpec`. See [[SemDedup]] for the scale story. */
  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    val df = t(spark, sfDir, "embeddings")
    val cacheDir = AnnIvf.ensureIndex(spark, df, "vec_id", "embedding",
      s"$sfDir/embeddings")
    SemDedup.dedup(
      spark.read.parquet(AnnIvf.assignedPath(cacheDir)),
      "vec_id", "embedding")
  }

  /** K19: dedup clustering — the grouping stage after pair detection.
    * Connected components over the oracle-checkable ngram-Jaccard pair
    * set ([[dedupNgramJaccard]]): each document gets the minimum doc_id
    * of its near-dup component as cluster_id, and `is_canonical` marks
    * the one kept document per cluster (the actual dedup decision).
    * Transitivity matters: A~B and B~C cluster A, B, C together even
    * though the pair (A, C) was never emitted. See [[Components]] for
    * the iteration/scale story. Oracle: the same min-label closure as a
    * DuckDB recursive CTE over the identical pair query. */
  /** K81: the dedup SAVINGS bill — what collapsing each near-dup
    * cluster (K19's components) to its min-id representative buys,
    * per source: docs and token mass total vs removable (non-
    * canonical cluster members), and the savings ratio — the number
    * that decides whether the dedup pass pays for itself at 100 TB
    * (the text twin of K60's multimodal byte bill). Rides the SHARED
    * pair/cluster caches (no re-pairing); token lengths are one
    * per-row projection; one left join on doc_id + one partial agg. */
  def dedupSavings(spark: SparkSession, sfDir: String): DataFrame = {
    val removable = dedupClusters(spark, sfDir)
      .filter(!col("is_canonical"))
      .select(col("doc_id"), lit(1L).as("rm"))
    t(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(removable, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("rm").isNotNull, 1L).otherwise(0L))
          .as("n_removable_docs"),
        sum(when(col("rm").isNotNull, col("n_tok")).otherwise(0L))
          .as("n_removable_tokens"))
      .withColumn("savings_ratio",
        round(col("n_removable_tokens").cast("double") /
          col("n_tokens").cast("double"), 6))
      .orderBy(col("source"))
  }

  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame =
    clustersFromLabels(ensureComponents(spark, sfDir))

  /** [[dedupClusters]] over an arbitrary (doc_a, doc_b) pair relation —
    * the shared-materialization entry point ([[materializePairs]]). */
  def dedupClustersFromPairs(pairs: DataFrame): DataFrame =
    clustersFromLabels(Components.connected(
      pairs.select(col("doc_a"), col("doc_b")), "doc_a", "doc_b"))

  private def clustersFromLabels(labels: DataFrame): DataFrame =
    labels
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        (col("id") === col("lbl")).as("is_canonical"))
      .orderBy(col("cluster_id"), col("doc_id"))

  /** K34: quality-aware cluster representative selection — the dedup
    * decision a production pipeline actually wants: within each
    * near-dup cluster keep the HIGHEST-QUALITY member (longest
    * document, tie-broken to the smallest doc_id), not the arbitrary
    * min-id canonical of [[dedupClusters]]. One compact row per
    * cluster: representative, member count, byte mass.
    *
    * Scale shape: the cluster frame holds only clustered docs, so the
    * members join broadcasts when the corpus dup-rate is low — but the
    * choice is LEFT TO AQE (no broadcast hint): a heavily-duplicated
    * web corpus clusters a third of its documents, and a forced
    * broadcast of that frame is an OOM, while the fallback shuffle on
    * doc_id is exactly one sort-merge join side. The per-cluster
    * argmax is a single `max_by` partial-agg pass over (n_chars,
    * -doc_id) — no window, no per-cluster task. Oracle: the identical
    * recursive-CTE closure with a row_number() pick. */
  def dedupKeepBest(spark: SparkSession, sfDir: String): DataFrame = {
    val clusters = ensureComponents(spark, sfDir)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
    val docs = t(spark, sfDir, "documents").select(col("doc_id"), col("n_chars"))
    docs.join(clusters, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).as("kept_doc"),
        count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("bytes_cluster"))
      .orderBy(col("cluster_id"))
  }

  /** K36: cross-source duplication matrix — near-dup pair counts per
    * UNORDERED source pair, the attribution report a data team runs
    * right after "how many dups": which feeds duplicate each other
    * (mirror sites, re-crawls, syndication) and which only self-dup.
    *
    * Scale shape: the pair set melts to its two member ids and joins
    * the (doc_id, source) projection ONCE (same movement as
    * [[jaccardVerified]] — never two full joins of the corpus against
    * the pair set), regroups per pair, normalizes the source pair with
    * least/greatest, and partial-aggs. Oracle: the shared K6 pair CTE
    * joined back to documents twice (DuckDB side is fixture-sized). */
  def dedupSourceOverlap(spark: SparkSession, sfDir: String): DataFrame =
    dedupSourceOverlapFromPairs(spark, sfDir, ensurePairs(spark, sfDir))

  /** [[dedupSourceOverlap]] over an arbitrary pair relation. */
  def dedupSourceOverlapFromPairs(spark: SparkSession, sfDir: String,
      rawPairs: DataFrame): DataFrame = {
    val pairs = rawPairs.select(col("doc_a"), col("doc_b"))
    val src = t(spark, sfDir, "documents").select(col("doc_id"), col("source"))
    pairs
      .select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(src, Seq("doc_id"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("source")).as("s_min"), max(col("source")).as("s_max"))
      .select(col("s_min").as("src_a"), col("s_max").as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** K41: asymmetric n-gram containment over the min-shingle candidate
    * pairs — the sub-duplicate view Jaccard under-reports: when a short
    * document is wholly embedded in a long one, the union in
    * J = |A∩B| / |A∪B| is dominated by the long side and the pair can
    * miss the 0.5 near-dup gate, while containment
    * C(X in Y) = |X∩Y| / |X| of the SMALLER side is ~1.0. A curation
    * pipeline uses the asymmetric pair (c_ab, c_ba) to pick the
    * subsumption direction (drop the contained doc, keep the
    * container), where keep-best's symmetric quality pick is wrong.
    *
    * Scale shape: identical to K6 — skew-capped min-shingle buckets
    * generate candidates (never all-pairs), [[pairShingleSides]] melts
    * each pair and joins the shingle sets once, then two exact-decimal
    * divisions. The k=1 min-shingle band recalls symmetric near-dups;
    * full subsumption recall at scale adds a bottom-k band per doc
    * (prefix filtering) — same bucket machinery, more bands, noted
    * rather than built because the candidate generator is shared with
    * the oracle. Threshold: max(c_ab, c_ba) ≥ 0.5, a superset of the
    * K6 pair set (C ≥ J always).
    *
    * Amortization: served through the build-once `containment_v1`
    * [[FixtureCache]] like every other consumer of the verified pair
    * machinery (K6/K19/K22/K34/K36 ride `pairs_v1`) — the containment
    * relation is a derived corpus artifact a production pipeline
    * materializes once per crawl, and it is DENSE on a recrawl-shaped
    * corpus: the sf10 fixture decade generates 31.2M capped candidate
    * pairs (the first scale where the 256 bucket cap binds — raw pair
    * volume 126M), whose verification melt is ~3×10⁹ rows; recomputing
    * that per consumer read is exactly what the cache discipline
    * exists to prevent. Row identity between the cached and inline
    * relations is pinned in `MaterializedPairsSpec`; the oracle
    * recomputes the relation from scratch in SQL, so correctness
    * semantics are untouched. */
  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame =
    ensureContainment(spark, sfDir).orderBy(col("doc_a"), col("doc_b"))

  /** The K41 relation inline, without presentation order — the build
    * side of [[ensureContainment]] and the reference side of the
    * cache-equivalence law in `MaterializedPairsSpec`. */
  private[graft] def containmentInline(spark: SparkSession,
      sfDir: String): DataFrame = {
    val rows = MinHash.shingleRows(t(spark, sfDir, "documents"), "doc_id", "text")
    val buckets = rows.groupBy(col("doc_id")).agg(min(col("shingle")).as("bucket"))
    val cand = Buckets.members(buckets,
        Seq("bucket"), col("doc_id"), col("doc_id"))
      .select(explode(Buckets.sortedPairs(col("ids"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    // r22 (guide §4.4 double-evaluation — the jaccardVerified fix): the
    // ≥ 0.5 filter and the three output projections used to re-inline
    // n_shared, evaluating array_intersect up to FIVE times per melted
    // pair (this is the relation whose sf10 build melt is ~3×10⁹ rows —
    // the kernel count is the build cost). The Generate barrier pins it
    // to one evaluation; c_ab/c_ba expression trees are unchanged
    // (same int sizes, same DECIMAL(18,4)/(10,0) divisions).
    pairShingleSides(cand, MinHash.shingleSets(rows, "doc_id").drop("bucket"))
      .select(col("doc_a"), col("doc_b"),
        explode(array(struct(
          size(array_intersect(col("sh_a"), col("sh_b"))).as("n_shared"),
          size(col("sh_a")).as("na"), size(col("sh_b")).as("nb")))).as("m"))
      .withColumn("c_ab", dbl(dec(col("m.n_shared")) / col("m.na")))
      .withColumn("c_ba", dbl(dec(col("m.n_shared")) / col("m.nb")))
      .filter(greatest(col("c_ab"), col("c_ba")) >= 0.5d)
      .select(col("doc_a"), col("doc_b"),
        col("m.n_shared").cast("long").as("n_shared"),
        col("c_ab"), col("c_ba"),
        when(col("c_ab") >= col("c_ba"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_doc"))
  }

  /** Build-once containment-relation cache — [[ensurePairs]]'s
    * discipline applied to K41 (content-keyed on the documents
    * parquet, atomic staging-rename commit, one committed cache per
    * live fixture). The `v1` component versions the containment
    * semantics: bump it when the candidate generator or threshold
    * changes so a stale cache is never served. */
  def ensureContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = FixtureCache.ensure(spark, "containment_v1", sfDir,
      Seq(s"$sfDir/documents.parquet")) { tmp =>
      containmentInline(spark, sfDir)
        .write.mode("overwrite").parquet(s"$tmp/pairs")
    }
    spark.read.parquet(s"$dir/pairs")
  }

  /** K22: the end-to-end dedup pipeline probe — pairs → connected
    * clusters → canonical survivors → ONE summary row: document count,
    * survivor count, removed count, and the byte totals kept/removed
    * (the "how much smaller is my training set" number a data team
    * actually asks for). Documents in no near-dup pair are trivially
    * canonical. The cluster frame is tiny relative to the corpus (only
    * clustered docs), so the left join broadcasts at scale; the final
    * aggregate is a single partial-agg pass. Oracle: the identical
    * composition over the recursive-CTE closure in DuckDB. */
  def dedupEndToEnd(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents").select(col("doc_id"), col("n_chars"))
    val keepFlags = dedupClusters(spark, sfDir)
      .select(col("doc_id"), col("is_canonical"))
    docs.join(keepFlags, Seq("doc_id"), "left")
      .withColumn("keep", coalesce(col("is_canonical"), lit(true)))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_survivors"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_removed"),
        sum(col("n_chars")).as("bytes_total"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L)).as("bytes_kept"),
        sum(when(!col("keep"), col("n_chars")).otherwise(0L)).as("bytes_removed"))
  }

  /** Dedup health probe: bucket-population statistics and skew-cap
    * truncation counters for the LSH bucket families — the metric
    * surface that makes silent recall loss observable (round-5 verdict
    * task 6: `Buckets.n_overflow` existed but no registered query
    * exposed it). The ngram (min-shingle) family is SQL-portable and
    * oracle-computed; the MinHash and embedding-LSH overflow totals are
    * engine-side sums whose fixture ground truth is 0 — proven
    * brute-force in `GroundTruthSpec` (zero truncation ⇔ complete
    * candidate sets), so the oracle pins them at 0 and any corpus
    * drift that starts truncating fails this row loudly. Three
    * single-row aggregates crossJoined — each side is one row, no
    * data-scale join. */
  def dedupHealth(spark: SparkSession, sfDir: String): DataFrame = {
    val rows = MinHash.shingleRows(t(spark, sfDir, "documents"), "doc_id", "text")
    val cap = lit(Buckets.MaxBucket)
    // bucket population needs only min(shingle) per doc — no
    // collect_set array building on this branch
    val ngram = rows.groupBy(col("doc_id")).agg(min(col("shingle")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(count(lit(1)).as("ngram_buckets"),
        coalesce(max(col("n")), lit(0L)).as("ngram_max_bucket"),
        coalesce(sum(greatest(col("n") - cap, lit(0L))), lit(0L))
          .as("ngram_overflow"))
    val mh = MinHash.bucketsFromText(
        t(spark, sfDir, "documents"), "doc_id", "text")
      .agg(coalesce(sum(col("n_overflow")), lit(0L)).as("minhash_overflow"))
    val emb = Buckets.members(
        AnnLsh.codes(t(spark, sfDir, "embeddings"), "vec_id", "embedding"),
        Seq("table_id", "code"), col("vec_id"), col("vec_id"))
      .agg(coalesce(sum(col("n_overflow")), lit(0L)).as("embedding_overflow"))
    ngram.crossJoin(broadcast(mh)).crossJoin(broadcast(emb))
  }

  /** K38: edit-distance near-dup detection — the Levenshtein-verified
    * complement of the token-set Jaccard family (K2/K6): set measures
    * miss small in-place edits that preserve most tokens' ORDER (typo
    * farms, template fills with short slots). Candidates bucket by the
    * first 16 chars of the whitespace-normalized text (near-identical
    * docs share their head; one narrow projection through the shared
    * skew-capped [[Buckets.members]] path, same as every LSH family),
    * then exact Levenshtein over the 200-char normalized prefixes
    * verifies at distance ≤ 40 (20%) — through the THRESHOLDED kernel
    * (banded DP, O(n·k) not O(n·m), early exit past the band; -1
    * signals over-threshold and is filtered, so kept distances are
    * exact and match the oracle's plain levenshtein). Prefixes join
    * back by doc_id through the same single melt join as
    * [[jaccardVerified]] — no doc×doc pass, and the shuffle carries
    * 200-char prefixes, never full documents. */
  def dedupFuzzy(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents").select(col("doc_id"),
      substring(trim(regexp_replace(lower(col("text")), "\\s+", " ")), 1, 200)
        .as("prefix"))
    val buckets = docs.select(col("doc_id"),
      substring(col("prefix"), 1, 16).as("bucket"))
    val cand = Buckets.members(buckets,
        Seq("bucket"), col("doc_id"), col("doc_id"))
      .select(explode(Buckets.sortedPairs(col("ids"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    cand
      .select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(docs, Seq("doc_id"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("prefix"))))
        .as("m"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(element_at(col("m"), 1).getField("prefix"),
          element_at(col("m"), 2).getField("prefix"), 40).as("dist"))
      .filter(col("dist") >= 0)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** K32: duplicated-span detection — substring-level dedup accounting
    * (the signal behind exact-substring dedup, Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * public): document-level dedup (K1/K2/K6) misses long passages
    * copied between otherwise-distinct documents, which LMs memorize.
    * Every `window`-token span (stride 1) is pinned by the sha256 of
    * its reassembled text; a span is duplicated when its hash occurs
    * in ≥ 2 distinct documents. Per doc: span count, duplicated-span
    * count, duplicated fraction (NULL for docs shorter than the
    * window). Scale shape: the span explode carries (doc_id, 256-bit
    * hash) — never window text; the dup set is one hash-keyed
    * partial-agg pass; the join back is hash-to-hash. No doc×doc
    * comparison, no uncapped collects — at 100 TB only the candidate
    * generator would change (suffix-array sharding), not this
    * accounting. */
  def dedupSubstring(spark: SparkSession, sfDir: String,
      window: Int = 16): DataFrame = {
    val docs = t(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // span hash kept BINARY (unhex of the hex sha2): h is internal —
    // only ever grouped/joined on, never output — and the binary form
    // halves its exchange bytes (64-char hex → 32 bytes; guide §2.3)
    val spans = docs
      .filter(size(col("toks")) >= window)
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("toks")) - window)).as("p"),
        col("toks"))
      .select(col("doc_id"),
        unhex(sha2(array_join(slice(col("toks"), col("p") + 1, lit(window)), " "), 256))
          .as("h"))
    // ONE pass over the expensive explode+sha2 spans (r21 optimization):
    // the old shape computed `spans` twice — once under the
    // countDistinct dup-hash aggregate and once as the join probe side
    // (the dup side broadcasts, so no exchange ever lined up for reuse
    // on the probe side; and with separate subtrees column pruning
    // makes them non-identical, so ReuseExchange can never fire).
    // Pre-aggregate to (h, doc_id, c) and derive the duplicated-hash
    // test as a WINDOW over h on that same frame: nd per h = row count
    // of g per h (≡ countDistinct doc_id), and per-doc dup spans =
    // Σ c over its duplicated hashes (≡ count of its span rows with a
    // duplicated hash). Values identical, oracle hash unchanged; the
    // Generate+sha2 pass and the documents scan run once instead of
    // twice. Skew posture unchanged: a universally-shared span
    // concentrates its (h, doc) rows in one window partition exactly
    // as it concentrated them in one countDistinct group before.
    val g = spans.groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val perDoc = g
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("nd") >= 2)
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_dup"))
    docs
      .select(col("doc_id"),
        greatest(size(col("toks")) - (window - 1), lit(0)).as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_spans").cast("long").as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_spans"),
        when(col("n_spans") === 0, lit(null).cast("double"))
          .otherwise(dbl(dec(coalesce(col("n_dup"), lit(0L))) / col("n_spans")))
          .as("dup_span_ratio"))
      .orderBy(col("doc_id"))
  }

  /** K23: benchmark-contamination check — the screen a training corpus
    * runs against its eval sets before training: any candidate document
    * sharing token-trigram shingles with the benchmark partition (here:
    * `source = 'src0'`, standing in for an eval set) is suspect, ranked
    * by how many distinct shingles it shares. Scale shape: the
    * benchmark shingle set is SMALL (eval sets are thousands of docs,
    * not billions) so it broadcasts; candidates join against it on the
    * shingle and aggregate per doc — one narrow pass over candidate
    * shingles, no doc×doc comparison. */
  def contaminationNgram(spark: SparkSession, sfDir: String): DataFrame =
    contaminationScreen(t(spark, sfDir, "documents"))

  /** K23 core over a (doc_id, text, source) frame — separated so the
    * NULL-source policy is unit-testable (`LlmDataSpec`). */
  def contaminationScreen(docs: DataFrame): DataFrame = {
    val shingles = MinHash
      .shingleRows(docs.select(col("doc_id"), col("text")), "doc_id", "text")
      .distinct() // distinct (doc, shingle): overlap counts count shingles once
    val src = docs.select(col("doc_id"), col("source"))
    val tagged = shingles.join(src, Seq("doc_id"))
    val bench = tagged.filter(col("source") === "src0")
      .select(col("shingle")).distinct()
    // null-safe complement (round-6 verdict #5): `=!=` is NULL-unsafe,
    // so a NULL-source document would silently escape screening — the
    // wrong default for a contamination gate. NULL source = candidate.
    tagged.filter(not(col("source") <=> "src0"))
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("doc_id"))
      .limit(20)
  }

  /** K29: decontamination decision — the screen ([[contaminationScreen]])
    * composed to the per-language removal summary a pipeline acts on:
    * any non-benchmark document sharing ≥ `minShared` distinct
    * token-trigram shingles with the benchmark partition is REMOVED
    * (the GPT-3-style n-gram-overlap decontamination step, public);
    * report docs and token mass kept/removed per language. Same scale
    * shape as K23 — the benchmark shingle set broadcasts, candidates
    * make one narrow pass, the removal flags are tiny and join back
    * broadcastable — plus a single partial-agg rollup. NULL-source
    * docs are candidates (null-safe complement, as in K23). */
  def decontaminate(spark: SparkSession, sfDir: String,
      minShared: Int = 5): DataFrame =
    decontaminateCore(spark, sfDir, minShared, bloomPrefilter = false)

  /** K58: [[decontaminate]] with a Bloom pre-filter — the scale form
    * of K29: a 1%-fpp Bloom of the benchmark shingles (built by the
    * public `df.stat.bloomFilter`, ~10× smaller than the equivalent
    * broadcast hash relation) rides into every task as one
    * [[graft.functions.BloomMightContain]] expression reference and
    * prunes the corpus shingle stream to candidates BEFORE the exact
    * join. No false negatives + the unchanged exact join downstream ⇒
    * the result is BIT-IDENTICAL to K29 (same oracle SQL; Spark-side
    * row identity pinned in `LlmDataSpec`) — the filter only cuts the
    * data that reaches the exchange, which at 100 TB is the job. */
  def decontaminateBloom(spark: SparkSession, sfDir: String,
      minShared: Int = 5): DataFrame =
    decontaminateCore(spark, sfDir, minShared, bloomPrefilter = true)

  private def decontaminateCore(spark: SparkSession, sfDir: String,
      minShared: Int, bloomPrefilter: Boolean): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    // each side shingles only ITS OWN documents — the source predicate
    // pushes to the parquet scan, and (decisively at 100 TB) the
    // benchmark side never materializes corpus-wide shingles (the
    // round-14 review finding: the former shingle-everything-then-
    // filter shape re-shingled the whole corpus per bench evaluation)
    def sideShingles(pred: org.apache.spark.sql.Column): DataFrame =
      MinHash.shingleRows(
        docs.filter(pred).select(col("doc_id"), col("text")),
        "doc_id", "text").distinct()
    val bench = sideShingles(col("source") === "src0")
      .select(col("shingle")).distinct()
    val corpusSide0 = sideShingles(not(col("source") <=> "src0"))
    val corpusSide =
      if (!bloomPrefilter) corpusSide0
      else {
        // two bounded jobs over the BENCHMARK side only (eval sets are
        // small by definition; the corpus is never counted or collected)
        val n = math.max(bench.count(), 1L)
        val bloom = bench.stat.bloomFilter("shingle", n, 0.01)
        corpusSide0.filter(
          graft.functions.BloomMightContain(col("shingle"), bloom))
      }
    val removed = corpusSide
      .join(broadcast(bench), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_id"), lit(true).as("removed"))
    docs.filter(not(col("source") <=> "src0"))
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .join(removed, Seq("doc_id"), "left")
      .withColumn("rm", coalesce(col("removed"), lit(false)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(!col("rm"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("rm"), col("n_toks")).otherwise(0L)).as("tokens_kept"))
      .orderBy(col("lang"))
  }

  /** K30: sliding-window token chunking — split each document into
    * fixed-size token windows with overlap (window 32, stride 24),
    * the preprocessing step between curation and tokenization that
    * turns documents into training sequences. Chunk COUNT is
    * ceil(max(n−W, 0)/S) + 1 (every doc yields at least one chunk;
    * the last may be short). Emits per chunk the token count and the
    * sha256 of the reassembled chunk text — content-exact
    * verification without shipping chunk strings. One narrow
    * generate (sequence + explode) per doc, O(1) slice per chunk,
    * no shuffle until the output sort. */
  def chunkTokens(spark: SparkSession, sfDir: String,
      window: Int = 32, stride: Int = 24): DataFrame =
    chunkSpans(spark, sfDir, window, stride)
      .select(col("doc_id"), col("chunk_id"), col("len").as("n_chunk_toks"),
        sha2(array_join(slice(col("toks"), col("start"), col("len")), " "), 256)
          .as("chunk_sha"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** The K30 chunk geometry (doc_id, toks, n, chunk_id, start, len) —
    * the ONE copy of the window/stride arithmetic, shared by
    * [[chunkTokens]] (which hashes the chunk text) and
    * [[packSequences]] (which only needs the lengths — Catalyst prunes
    * `toks` away there, so the split never runs on that path). */
  private def chunkSpans(spark: SparkSession, sfDir: String,
      window: Int, stride: Int): DataFrame =
    t(spark, sfDir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("n_chunks",
        (greatest(col("n") - window, lit(0)) + (stride - 1))
          .divide(stride).cast("int") + 1)
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .withColumn("start", col("chunk_id") * stride + 1)
      .withColumn("len", least(lit(window), col("n") - col("start") + 1))

  /** K53: sequence packing — the last preprocessing stage before a
    * training run: pack [[chunkTokens]]'s variable-length chunks
    * (each ≤ window ≤ seqLen) into fixed-capacity training sequences,
    * next-fit in deterministic (doc_id, chunk_id) order WITHIN the K31
    * md5 shard (salt 'shard', mod 16 — packing composes with the
    * sharded corpus layout, and bins never cross shard files, exactly
    * how a production loader packs per shard). A chunk that would
    * overflow the open sequence closes it and starts the next; no
    * chunk is ever split. Emits per sequence the chunk/doc counts,
    * token total, fill ratio against capacity, and the
    * lexicographically-sorted member list (`doc:chunk`) — the packing
    * is content-exact verifiable without shipping text.
    *
    * Scale shape: the sequential fold is per-shard state of THREE
    * scalars (shard, open fill, sequence counter) inside
    * `mapPartitions` over rows already hash-partitioned by shard and
    * externally (spillably) sorted by `sortWithinPartitions` — no
    * in-memory group materialization, no text movement (rows are
    * (shard, doc, chunk, len)), and shard count scales with the
    * corpus, so no task ever holds more than one shard's metadata
    * stream. The same fold shape is how a 1000-executor run packs a
    * 100 TB corpus: one pass per shard file. First-fit-decreasing
    * packs ~2% tighter but needs a global sort by length and loses
    * doc locality within sequences; doc_id-order next-fit is the
    * standard loader compromise and is what the oracle can mirror
    * (one recursive scan per shard). */
  def packSequences(spark: SparkSession, sfDir: String,
      seqLen: Int = 64, shards: Int = 16): DataFrame = {
    import spark.implicits._
    val shard = pmod(conv(substring(md5(concat(lit("shard"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
      lit(shards.toLong))
    val assigned = chunkSpans(spark, sfDir, window = 32, stride = 24)
      .select(shard.as("shard"), col("doc_id"), col("chunk_id"),
        col("len").cast("long").as("n_toks"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"), col("chunk_id"))
      .as[(Long, Long, Int, Long)]
      .mapPartitions { it =>
        // next-fit fold: O(1) state, resets at each shard boundary (a
        // hash partition may carry several shards back to back)
        var cur = Long.MinValue; var fill = 0L; var seq = 0L
        it.map { case (sh, d, c, n) =>
          if (sh != cur) { cur = sh; seq = 0L; fill = 0L }
          if (fill > 0 && fill + n > seqLen) { seq += 1; fill = 0L }
          fill += n
          (sh, seq, d, c, n)
        }
      }
      .toDF("shard", "seq_id", "doc_id", "chunk_id", "n_toks")
    assigned
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        dbl(dec(sum(col("n_toks"))) / seqLen).as("fill_ratio"),
        concat_ws(",", sort_array(collect_list(
          concat_ws(":", col("doc_id"), col("chunk_id"))))).as("members"))
      .orderBy(col("shard"), col("seq_id"))
  }

  /** K24: stratified corpus sampling — proportional allocation of a
    * fixed sample budget across languages (the corpus-mixing primitive:
    * quota_l = round(target × n_l / N), floored at 1 so no stratum
    * vanishes), then a deterministic per-stratum take of the lowest
    * doc_ids. The per-stratum rank is [[Strata.rank]]'s two-pass
    * range-bucketed shape (round-6 verdict #2: `Window.partitionBy(
    * lang)` put every document of a language in ONE task — 'en' at web
    * scale is half the corpus on one reducer); no global sort, no
    * driver-side loop. Quota arithmetic is exact decimal (HALF_UP in
    * both engines). */
  def sampleStratified(spark: SparkSession, sfDir: String,
      target: Int = 100): DataFrame = {
    val docs = t(spark, sfDir, "documents").select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val total = broadcast(counts.agg(sum(col("n_docs")).as("n_total")))
    val quotas = counts.crossJoin(total)
      .select(col("lang"), col("n_docs"),
        greatest(lit(1L),
          round(dec(col("n_docs") * target) / col("n_total")).cast("long"))
          .as("quota"))
    Strata.rank(docs, Seq("lang"), "doc_id")
      .join(broadcast(quotas), Seq("lang"))
      .filter(col("rn") <= col("quota"))
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"), max(col("quota")).as("quota"),
        count(lit(1)).as("n_sampled"))
      .orderBy(col("lang"))
  }

  /** K25: token-budget packing — greedily keep each language's documents
    * (in deterministic doc_id order) while the running token count stays
    * within a per-language budget; report docs kept and tokens used.
    * The running sum is [[Strata.prefixSum]]'s two-pass distributed
    * prefix sum (round-6 verdict #3: a `Window.partitionBy(lang)`
    * running sum accumulates a whole stratum in one task) — ROWS-frame
    * semantics over unique doc_ids, identical to the oracle's
    * single-window form; there is no global order-by over the corpus. */
  def packTokenBudget(spark: SparkSession, sfDir: String,
      budget: Long = 2000L): DataFrame =
    Strata.prefixSum(
        t(spark, sfDir, "documents")
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("n_toks")),
        Seq("lang"), "doc_id", "n_toks", out = "cum_toks")
      .filter(col("cum_toks") <= budget)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), max(col("cum_toks")).as("tokens_used"))
      .orderBy(col("lang"))

  /** BPE-style pre-tokenizer pattern: letter runs, digit runs, and
    * punctuation runs, each optionally absorbing one leading space —
    * the ASCII core of the GPT-2 pre-tokenizer regex (public; the
    * original's contraction/lookahead clauses are dropped because RE2
    * has no lookahead, keeping Spark and DuckDB byte-identical). */
  val BpeTokenPattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  /** K20: subword-style token accounting — whitespace token count next
    * to the BPE-ish pre-token count and their exact-decimal ratio, the
    * cost model a training pipeline budgets corpora with (whitespace
    * counting alone undercounts punctuation-heavy text). */
  def textTokensBpe(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        regexp_extract_all(col("text"), lit(BpeTokenPattern), lit(0)).as("bpe"))
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_ws"),
        size(col("bpe")).as("n_bpe"),
        dbl(dec(size(col("bpe"))) / size(split(col("text"), " ")))
          .as("bpe_per_ws"))
      .orderBy(col("doc_id"))

  /** K59: BPE merge LEARNING — one induction round of the
    * byte-pair-encoding training loop (Sennrich et al. 2016, public):
    * over the [[BpeTokenPattern]] pre-token stream, count every
    * adjacent character pair weighted by pre-token frequency and rank
    * the top 20 — exactly the statistic the BPE trainer consults to
    * pick its next merge (the production loop re-runs this after
    * applying each merge; one round is the declared scope, the
    * fixpoint is driver iteration over the same query shape).
    *
    * Scale shape: pair counting collapses to the pre-token VOCABULARY
    * first (one partial-agg pass over the corpus — the same trick
    * every BPE trainer uses: corpus length only matters once), then
    * the char-pair explode runs over vocabulary-cardinality rows with
    * a ≤ word-length fan-out, and the final count is a partial agg
    * over pair keys with a TakeOrdered top-20 (no global sort).
    * Tie-break: count DESC then pair ASC (binary UTF-8 in both
    * engines), so the cut is fully deterministic. */
  def bpeLearnMerges(spark: SparkSession, sfDir: String): DataFrame =
    bpePairCounts(spark, sfDir)
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  /** The K59/K69 merge-candidate relation: frequency-weighted adjacent
    * character-pair counts over the BPE-regex word vocabulary —
    * `(pair, n)` where n = Σ word-frequency over words containing the
    * pair at each position. Shared by [[bpeLearnMerges]] (top-20 rule
    * learner) and [[bpeMergeCoverage]] (coverage curve) so the two
    * can never drift apart on the pair definition. */
  private def bpePairCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = t(spark, sfDir, "documents")
      .select(explode(
        regexp_extract_all(col("text"), lit(BpeTokenPattern), lit(0))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    vocab
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
  }

  /** K69: BPE merge-rule COVERAGE curve — for merge-table sizes
    * k ∈ {10, 25, 50, 100}, the share of all adjacent-pair
    * occurrences the top-k merge rules (by weighted frequency, pair
    * text tie-break — K59's exact ranking) would cover: the
    * tokenizer-sizing question ("how big must the merge table be")
    * answered from the same relation K59 learns from. The global
    * row_number window runs over the PAIR-TYPE table — bounded by
    * charset², thousands of rows at any corpus scale — never the
    * occurrence stream; the heavy work (corpus → weighted pair
    * counts) is the same one map-side-combined aggregation as K59,
    * so the curve costs one tiny single-partition window more than
    * the learner itself. One exact integer division at the end. */
  def bpeMergeCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val pc = bpePairCounts(spark, sfDir)
    val w = Window.orderBy(col("n").desc, col("pair"))
    val tot = pc.agg(sum(col("n")).as("total"))
    pc.withColumn("rk", row_number().over(w))
      .withColumn("vocab_size",
        explode(array(Seq(10, 25, 50, 100).map(lit): _*)))
      .filter(col("rk") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(count(lit(1)).as("n_merges"), sum(col("n")).as("covered"))
      .crossJoin(broadcast(tot))
      .select(col("vocab_size").cast("bigint").as("vocab_size"),
        col("n_merges"), col("covered"),
        (col("covered").cast("double") / col("total").cast("double"))
          .as("coverage"))
      .orderBy(col("vocab_size"))
  }

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "ich"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "la", "de", "los", "que", "y", "en", "un"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est"),
    "zh" -> Seq("的", "是", "在", "了", "我"))

  /** Per-language stopword-overlap scores over a distinct-token
    * array. */
  private def langScores(toksD: Column): Map[String, Column] =
    langProfiles.map { case (l, ws) =>
      l -> size(array_intersect(toksD, array(ws.map(lit): _*)))
    }.toMap

  /** The langid argmax over per-language score Columns,
    * alphabetical-first tie-break — the ONE copy of the tie-break
    * logic, shared by [[textLangid]] (scores as named columns) and
    * [[corpusCuration]] (inline scores via [[langidExpr]]). */
  private def langidPick(score: Map[String, Column]): Column = {
    val langs = langProfiles.map(_._1)
    langs.init.zipWithIndex.foldRight(lit(langs.last)) {
      case ((l, i), rest) =>
        val beatsLater = langs.drop(i + 1)
          .map(m => score(l) >= score(m)).reduce(_ && _)
        when(beatsLater, lit(l)).otherwise(rest)
    }
  }

  /** The langid argmax as a single Column over a distinct-token
    * array. */
  private def langidExpr(toksD: Column): Column =
    langidPick(langScores(toksD))

  /** K26: the curation funnel — the per-language survivor accounting a
    * corpus build reports after its standard screens: token-count
    * quality band (20-80), declared-vs-detected language agreement
    * (the [[langidExpr]] heuristic must reproduce the `lang` column),
    * and exact-dedup survivorship (keep-min doc_id per text hash).
    * Output per language: total docs, docs passing each screen, final
    * survivors, and surviving token mass. One pass computes all flags
    * (the dedup window shuffles on the 256-bit text hash, never the
    * text itself), then a single partial-agg rollup. */
  def corpusCuration(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("text_sha")).orderBy(col("doc_id"))
    t(spark, sfDir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("q", col("n_tokens").between(20, 80))
      .withColumn("agree", langidExpr(array_distinct(col("toks"))) === col("lang"))
      .withColumn("text_sha", sha2(col("text"), 256))
      .withColumn("keep1", row_number().over(w) === 1)
      .withColumn("fin", col("q") && col("agree") && col("keep1"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("q"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("agree"), 1L).otherwise(0L)).as("n_lang_agree"),
        sum(when(col("keep1"), 1L).otherwise(0L)).as("n_dedup_keep"),
        sum(when(col("fin"), 1L).otherwise(0L)).as("n_final"),
        sum(when(col("fin"), col("n_tokens").cast("long")).otherwise(0L))
          .as("tokens_final"))
      .orderBy(col("lang"))
  }

  /** Heuristic language ID: per-language stopword-overlap score over
    * the distinct token set, argmax with alphabetical tie-break — the
    * standard cheap n-gram/stopword-profile heuristic, fully
    * SQL-portable and oracle-checked. */
  def textLangid(spark: SparkSession, sfDir: String): DataFrame = {
    val toksD = array_distinct(split(col("text"), " "))
    val langs = langProfiles.map(_._1)
    val scored = t(spark, sfDir, "documents")
      .select(col("doc_id") +:
        langScores(toksD).toSeq.sortBy(_._1)
          .map { case (l, s) => s.as(s"s_$l") }: _*)
    // alphabetical-first argmax (shared tie-break: langidPick)
    val pick = langidPick(langs.map(l => l -> col(s"s_$l")).toMap)
    scored.select((col("doc_id") +: langs.map(l => col(s"s_$l"))) :+
        pick.as("langid"): _*)
      .orderBy(col("doc_id"))
  }

  /** Multimodal plumbing: opaque binary payload column + typed metadata —
    * byte length and content hash computed on the binary, the pattern an
    * image/audio pipeline uses before a decode step (decode itself is
    * stubbed in [[graft.multimodal.Multimodal]]). */
  def multimodalBinaryMeta(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).as("n_bytes"),
        sha2(col("payload"), 256).as("payload_sha"))
      .orderBy(col("doc_id"))

  /** Multimodal frame sampling: every 2nd frame index of each
    * video-like payload with a per-frame content hash — see
    * [[graft.multimodal.Multimodal.withFrameSamples]]. The fake frame
    * count is a pure function of the byte length, so the lateral
    * expansion is oracle-checkable. */
  def multimodalFrameSample(spark: SparkSession, sfDir: String): DataFrame =
    graft.multimodal.Multimodal.withFrameSamples(
      t(spark, sfDir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload")))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** K21: multimodal feature extraction — the payload → feature-vector
    * stage between decode and similarity search, batched per partition
    * like the decoder ([[graft.multimodal.Multimodal.withFeatures]]).
    * The final projection scalarizes the stub vector (DOUBLE finals)
    * and renders the byte-access dimension as the first payload byte in
    * hex, so the mapPartitions plumbing is oracle-checkable
    * end-to-end. */
  def multimodalFeatures(spark: SparkSession, sfDir: String): DataFrame =
    graft.multimodal.Multimodal.withFeatures(
        t(spark, sfDir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload")))
      .select(col("doc_id"),
        element_at(col("features"), 1).cast("double").as("f_len"),
        element_at(col("features"), 2).cast("double").as("f_mod7"),
        element_at(col("features"), 3).cast("double").as("f_mod11"),
        // no first byte to render on an empty payload: NULL, matching
        // the oracle (the stub's 0 sentinel would print as '00')
        when(element_at(col("features"), 1) === 0, lit(null))
          .otherwise(lpad(hex(element_at(col("features"), 4).cast("int")), 2, "0"))
          .as("byte0_hex"))
      .orderBy(col("doc_id"))

  /** Multimodal decode: the partition-batched (fake) decoder of
    * [[graft.multimodal.Multimodal]] over binary payloads — typed
    * (width, height, format) metadata per document. The stub is a
    * deterministic function of the byte length, so the plumbing is
    * oracle-checkable end-to-end. */
  def multimodalDecode(spark: SparkSession, sfDir: String): DataFrame =
    graft.multimodal.Multimodal.withDecodedMeta(
      t(spark, sfDir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload")))
      .orderBy(col("doc_id"))

  /** K50: resize planning — the bounding-box geometry pass of a media
    * preprocessing pipeline (decode → clamp to a 256-px box preserving
    * aspect ratio → the dimensions the pixel kernel will target),
    * completing the decode / feature-extract / resize / frame-sample
    * verb set as registered ops. One partition-batched map (decode +
    * resize share the per-partition codec instance); oracle mirrors
    * the stub decode and the IEEE scale/floor walk exactly. */
  def multimodalResize(spark: SparkSession, sfDir: String): DataFrame =
    graft.multimodal.Multimodal.withResizePlan(
      t(spark, sfDir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload")))
      .orderBy(col("doc_id"))

  /** K60: multimodal ASSET dedup accounting — K1's exact-dedup
    * discipline applied to binary payloads, rolled up per decoded
    * format: payload copies vs distinct assets and the byte mass a
    * content-addressed store would reclaim (`bytes_dedupable` =
    * redundant copies × asset size). Repeated assets (the same image
    * embedded across pages) dominate raw multimodal corpus storage,
    * so this accounting is the first query an ingest runs.
    *
    * Scale shape: the payload NEVER shuffles — the dedup key is its
    * 256-bit hash computed in the scan projection, so the exchange
    * carries (doc_id, sha, n_bytes, format)-width rows only; the
    * format comes from the partition-batched decode
    * ([[graft.multimodal.Multimodal.withDecodedMeta]]) joined back
    * doc-keyed; two partial-agg levels (per-asset, then per-format).
    * The oracle groups by the payload itself — collision-free
    * equivalence at any fixture scale. */
  def multimodalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val p = t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val hashes = p.select(col("doc_id"), sha2(col("payload"), 256).as("sha"),
      length(col("payload")).as("n_bytes"))
    val formats = graft.multimodal.Multimodal.withDecodedMeta(p)
      .select(col("doc_id"), col("format"))
    hashes.join(formats, Seq("doc_id"))
      .groupBy(col("format"), col("sha"), col("n_bytes"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("format"))
      .agg(sum(col("n")).as("n_payloads"),
        count(lit(1)).as("n_distinct"),
        sum(col("n") - 1L).as("n_dup"),
        sum(col("n") * col("n_bytes")).as("bytes_total"),
        sum((col("n") - 1L) * col("n_bytes")).as("bytes_dedupable"))
      .orderBy(col("format"))
  }

  /** K73: SOFT deduplication — down-WEIGHT duplicates instead of
    * dropping them (the SlimPajama/SoftDedup alternative to K1's hard
    * drop: every copy of an n-times-duplicated text carries weight
    * 1/n, so each distinct text contributes exactly one effective
    * document regardless of copy count, and no single copy is
    * arbitrarily privileged). Per source: raw docs, docs that are
    * members of a duplicate group, and the EFFECTIVE doc count
    * Σ 1/n_copies — the number the sampler actually draws against.
    *
    * Scale shape: texts never shuffle — copy counts group on
    * sha256(text) (one partial-agg pass), and the per-doc weight
    * joins back on the same hash key; the 1/n weights are
    * term-rounded at 9 dp and summed as exact DECIMAL (the
    * text_entropy discipline), so the float walk is partitioning-
    * and engine-independent. */
  def dedupSoft(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("h"))
    val copies = docs.groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"))
    docs.join(copies, "h")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        round(sum(round(lit(1.0) / col("n_copies"), 9)
          .cast(DecimalType(28, 9))).cast("double"), 6).as("eff_docs"))
      .withColumn("eff_ratio",
        round(col("eff_docs") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  /** K74: tokenizer FERTILITY by language (Ács 2019; Rust et al. 2021,
    * public) — subword tokens emitted per whitespace word, the
    * standard "how much does this tokenizer fragment language X"
    * audit run before fixing a vocabulary: a language whose fertility
    * is 2× pays 2× the sequence length (and 2× the training compute)
    * for the same text. Uses the [[BpeTokenPattern]] pre-tokenizer
    * (the K17 surface) as the subword stream and the corpus `lang`
    * label as the grouping.
    *
    * Scale shape: both token counts are per-row scalar projections
    * (codegen'd regexp + split — no explode, nothing shuffles but
    * (lang, two ints)), partial-aggregated to ≤5 groups; the
    * fertility ratio is one exact-DECIMAL division per group. */
  def textFertility(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit(BpeTokenPattern), lit(0)))
          .cast("long").as("bpe"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("n_ws"),
        sum(col("bpe")).as("n_bpe"),
        dbl(dec(sum(col("bpe"))) / sum(col("ws"))).as("fertility"))
      .orderBy(col("lang"))

  /** Sliding-chunk geometry (K75): window size / stride in tokens.
    * Overlap = size − stride. */
  val SlideSize = 128
  val SlideStride = 96

  /** K75: SLIDING-window chunking accounting — the RAG/long-context
    * chunker (LangChain RecursiveTextSplitter semantics, public):
    * fixed windows of [[SlideSize]] tokens advancing by
    * [[SlideStride]], each chunk sharing size−stride tokens with its
    * predecessor so no boundary ever splits context. A chunk is
    * emitted only while it adds uncovered tokens (the last window
    * aligns to the doc end), which gives closed integer forms:
    * n_chunks = 1 if L ≤ S else ⌈(L−S)/T⌉+1, and emitted tokens =
    * L + (S−T)·(n_chunks−1) — the re-embedding bill the overlap
    * charges. Per source: docs, raw tokens, chunks, emitted tokens,
    * redundancy ratio (ONE IEEE division per source).
    *
    * Scale shape: pure per-row integer projections (no explode —
    * geometry, not materialized chunks), one partial agg to source
    * cardinality; the fixture-scale and 100-TB plans are identical. */
  def chunkSliding(spark: SparkSession, sfDir: String): DataFrame = {
    val S = SlideSize; val T = SlideStride
    val g = t(spark, sfDir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("len"))
      .withColumn("n_chunks",
        when(col("len") <= S, lit(1L)).otherwise(
          expr(s"(len - $S + ${T - 1}) DIV $T") + 1L))
      .withColumn("emitted",
        col("len") + lit((S - T).toLong) * (col("n_chunks") - 1L))
    g.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("n_tokens"),
        sum(col("n_chunks")).as("n_chunks"),
        sum(col("emitted")).as("n_emitted"))
      .withColumn("redundancy",
        round(col("n_emitted").cast("double") /
          col("n_tokens").cast("double"), 6))
      .orderBy(col("source"))
  }

  /** K77: n-gram NOVELTY per source — what share of a document's
    * distinct token trigrams appears in NO other document (the
    * memorization/templating audit: boilerplate-heavy or machine-
    * generated sources score low, genuinely novel text high — the
    * per-source aggregate of the same trigram relation the K6 dedup
    * candidates ride). Doc-frequency of a shingle drives the flag;
    * novelty = novel-shingle mass / shingle mass, ONE IEEE division
    * per source.
    *
    * Scale shape: the shingle TEXT never shuffles — the document
    * frequency groups on xxhash64(shingle) (the K63 move; the oracle
    * groups by the text itself as the collision-free mirror), the
    * per-doc flag returns via one hash-keyed join, and both
    * aggregations are partial-agg passes. */
  def textNgramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    // r22 (guide §1.2/§2.3): the old shape joined the doc-frequency
    // table back onto the full (doc_id, h) relation — a second full
    // exchange of the corpus-sized relation on h plus a third on
    // doc_id — to attribute novel shingles to documents. But a shingle
    // with nd = 1 lives in EXACTLY ONE document, so its owner is
    // recoverable from the frequency aggregation itself (min(doc_id)
    // over one row is that row): novelty attribution shrinks to a
    // vocab-bounded fold and the join-back disappears. The relation is
    // checkpointed once (eager, inside the timed region) for its two
    // consumers — the per-doc totals and the frequency fold — the LPA
    // sym-edges discipline.
    val rows = MinHash.shingleRows(docs, "doc_id", "text")
      .select(col("doc_id"), xxhash64(col("shingle")).as("h")).distinct()
      .iterCheckpoint()
    val novel = rows.groupBy(col("h"))
      .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("doc_id"))
      .filter(col("nd") === 1)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nv"))
    val perDoc = rows.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tt"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("tt"),
        coalesce(col("nv"), lit(0L)).as("nv"))
    perDoc.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tt")).as("n_shingles"),
        sum(col("nv")).as("n_novel"))
      .withColumn("novelty", round(col("n_novel").cast("double") /
        col("n_shingles").cast("double"), 6))
      .orderBy(col("source"))
  }

  /** K78: class-BALANCED subsampling — the uniform-per-language eval
    * subset (cap every language at the scarcest language's count so
    * no class dominates the benchmark): per-language deterministic
    * md5 ranking (salt 'bal' — the K28/K43 draw discipline: retry-
    * and repartition-stable, no RNG coordination), keep rank ≤ the
    * min class count. Per language: available docs, kept docs (the
    * cap, by construction), realized share.
    *
    * Scale shape: one partial agg to the language domain, the 1-row
    * cap as a broadcast, one ranking window per language partition
    * (each orders only its own class). */
  def sampleBalanced(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"))
    val cap = broadcast(docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("cap")))
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(concat(lit("bal"), col("doc_id").cast("string"))),
        col("doc_id"))
    docs.withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(cap)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") <= col("cap"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_share", round(col("n_kept").cast("double") /
        col("n_docs").cast("double"), 6))
      .orderBy(col("lang"))
  }

  /** K85: Neyman allocation for stratified sampling (Neyman 1934,
    * public) — the OPTIMAL split of a labeling/eval budget across
    * strata: sample stratum h in proportion to N_h·σ_h (big AND
    * variable strata earn more draws than proportional allocation
    * gives them; a uniform stratum needs almost none). Strata are
    * languages, the measured variable is document length. σ_h comes
    * from exact DECIMAL moments (the D20 discipline); each weight is
    * term-rounded at 6 dp and summed as exact DECIMAL so the shares
    * cannot flap under partitioning; the 10k-budget allocation is one
    * IEEE multiply-divide per stratum.
    *
    * Scale shape: one fact partial-agg to the language domain, a
    * 1-row broadcast total, scalar arithmetic after. */
  def sampleNeyman(spark: SparkSession, sfDir: String): DataFrame = {
    val m = t(spark, sfDir, "documents")
      .select(col("lang"), col("n_chars").cast(DecimalType(18, 0)).as("x"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("x") * col("x")).cast("double").as("sxx"))
    val nD = col("n").cast("double")
    val sd = sqrt((col("sxx") - col("sx") * col("sx") / nD) / (nD - 1))
    val weighted = m.select(col("lang"), col("n"),
      round(sd, 6).as("sd_chars"),
      round(nD * sd, 6).cast(DecimalType(28, 6)).as("w"))
    val tot = broadcast(weighted.agg(sum(col("w")).as("wtot")))
    weighted.crossJoin(tot)
      .select(col("lang"), col("n").as("n_docs"), col("sd_chars"),
        round(col("w").cast("double") / col("wtot").cast("double"), 6)
          .as("weight_share"),
        round(lit(10000.0) * col("w").cast("double") /
          col("wtot").cast("double"), 2).as("alloc_10k"))
      .orderBy(col("lang"))
  }

  /** Audio framing geometry (K86): 25 ms window / 10 ms hop at the
    * declared 16 kHz, 16-bit stereo PCM interpretation (4 bytes per
    * sample frame). */
  val AudioWin = 400
  val AudioHop = 160

  /** K86: audio FRAME-windowing accounting — the STFT/fbank front-end
    * geometry every speech pipeline runs (25 ms windows advancing
    * 10 ms): per source, assets, samples, frames, the re-read factor
    * the 60% overlap charges, and the assets too short to frame at
    * all (the silent data-loss case a framing audit must surface).
    * The payload is the opaque binary column; sample count is its
    * declared PCM interpretation (bytes DIV 4) — closed integer
    * forms, no explode, the multimodal sibling of K75's token
    * chunker. */
  def multimodalAudioFrames(spark: SparkSession, sfDir: String): DataFrame = {
    val g = t(spark, sfDir, "documents")
      .select(col("source"),
        expr("CAST(length(CAST(text AS BINARY)) AS BIGINT) DIV 4")
          .as("samples"))
      .withColumn("frames",
        when(col("samples") < AudioWin, lit(0L))
          .otherwise(expr(s"(samples - $AudioWin) DIV $AudioHop") + 1L))
    g.groupBy(col("source"))
      .agg(count(lit(1)).as("n_assets"),
        sum(when(col("frames") === 0, 1L).otherwise(0L)).as("n_too_short"),
        sum(col("samples")).as("n_samples"),
        sum(col("frames")).as("n_frames"),
        sum(col("frames") * AudioWin).as("n_frame_samples"))
      .withColumn("read_factor",
        round(col("n_frame_samples").cast("double") /
          col("n_samples").cast("double"), 6))
      .orderBy(col("source"))
  }

  /** Context lengths the packing-efficiency curve is evaluated at. */
  val PackContexts: Seq[Int] = Seq(256, 512, 1024, 2048)

  /** K76: PACKING-efficiency curve — for each candidate context
    * length, the padding bill of document-per-sequence batching
    * (each doc occupies ⌈L/ctx⌉ sequences, the last one padded):
    * sequences, token slots, padded slots, and the realized token
    * efficiency. This is the pre-flight answer to "what context
    * length wastes the least compute on THIS corpus" — run before
    * committing to a packing strategy (K53 then measures the packed
    * alternative). All counts are exact integer forms of the
    * per-doc token length; ONE IEEE division per context length.
    *
    * Scale shape: token length is one per-row projection; the
    * 4-way context explode multiplies the SCALAR frame (doc_id,
    * len), not the text; one partial agg to the 4-row context
    * domain. */
  def packEfficiency(spark: SparkSession, sfDir: String): DataFrame = {
    val ctxs = array(PackContexts.map(c => lit(c.toLong)): _*)
    t(spark, sfDir, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("len"))
      .select(col("len"), explode(ctxs).as("ctx"))
      .withColumn("seqs", expr("(len + ctx - 1) DIV ctx"))
      .groupBy(col("ctx"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("n_tokens"),
        sum(col("seqs")).as("n_seqs"),
        sum(col("seqs") * col("ctx")).as("n_slots"))
      .select(col("ctx"), col("n_docs"), col("n_tokens"), col("n_seqs"),
        (col("n_slots") - col("n_tokens")).as("n_padding"),
        round(col("n_tokens").cast("double") /
          col("n_slots").cast("double"), 6).as("efficiency"))
      .orderBy(col("ctx"))
  }

  /** K90: CODE-vs-PROSE detection — the corpus-routing screen a
    * training pipeline runs to split source code from natural text
    * (code goes to a code-tokenizer lane with different dedup and
    * quality rules; prose-trained filters mis-score code and vice
    * versa). Heuristic = density of code-punctuation
    * (`{}()[];=<>|&`), the signal used by published corpus pipelines
    * before any learned classifier. The fixture corpus is pure
    * word-salad prose, so both engines deterministically append the
    * same code fragment to every 7th document (the [[textCharset]]
    * injection pattern — a pure function of doc_id), making the
    * detector's positive path hash-checked rather than vacuously
    * zero; every 11th document gets a LIGHT markup suffix that must
    * stay BELOW the threshold (the false-positive guard, also
    * checked).
    *
    * Counts are length-differences of a global regex strip over an
    * explicit character class (Java ∩ RE2 subset — identical
    * automata both engines); one narrow codegen'd projection, no
    * shuffle before the output sort. */
  def textCodeDetect(spark: SparkSession, sfDir: String): DataFrame = {
    val injected = t(spark, sfDir, "documents")
      // sort below, regex counters above (r21: the fn_try_arith
      // range-sampling rationale; doc_id unique)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .withColumn("t2", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit(" int f(x){return a[i]<=y&&b!=0;}")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit(" (see note <1>)")).otherwise(lit(""))))
    val n = length(col("t2"))
    val codeChars =
      n - length(regexp_replace(col("t2"), "[{}()\\[\\];=<>|&]", ""))
    injected.select(col("doc_id"),
        n.cast("long").as("n_chars"),
        codeChars.cast("long").as("n_code_chars"),
        when(n > 0, dbl(dec(codeChars) / n)).as("code_char_ratio"),
        (codeChars >= 10).as("is_code"))
      .orderBy(col("doc_id"))
  }
}
