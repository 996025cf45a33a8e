package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tooling: synthesize a larger-scale fixture by key-shifted
  * replication of a source fixture, in a [[Harness.session]] — the
  * decade rungs (sf1, sf10, ...) used to measure PER-QUERY SCALING
  * EXPONENTS (a query scaling worse than ~linear between rungs is a
  * hidden scale bug the sub-second fixture timings can't show). NOT
  * part of the correctness gate: the oracle runs only against the
  * source fixtures, which this never modifies.
  *
  * Replication recipe (factor F copies of the source scale):
  *  - `region`/`nation`: fixed dimensions, copied once (TPC-H keeps
  *    them constant across scale factors).
  *  - keyed tables: copy i shifts every primary AND foreign key by
  *    i × (that table's key cardinality), so referential structure,
  *    join fan-outs, and per-key group sizes are PRESERVED while key
  *    cardinality scales — the same shape a real 10× corpus has.
  *  - `documents`: copy i ROTATES each text by i words — key
  *    statistics (lengths, token frequencies) are preserved while the
  *    copies remain detectable near-duplicates, which is the honest
  *    shape of a recrawled corpus (consecutive CommonCrawl dumps are
  *    mostly near-dups of each other) and a deliberate stress of the
  *    dedup family's bucket caps.
  *  - `embeddings`: copy i perturbs the last coordinate by i·2⁻¹⁰ so
  *    vectors are distinct but the space's geometry is unchanged.
  *
  * ADVERSARIAL-SHAPE MODE: a trailing `zipf` arg plants ONE MEGA-KEY
  * owning ~1% of rows in each fact relation (lineitem's supplier+part
  * keys, events' user, orders' customer) — the skew the
  * salted-join/bucket-cap/degree-orientation plans are designed for
  * but which the TPC-H-uniform fixture never exercises. Row selection
  * is a deterministic hash of the row's own keys, so the skewed fixture
  * is reproducible; key 0 is the mega-key (it exists at every scale).
  * The uniform fixtures are untouched — the oracle gate runs only
  * against them. Salted-vs-naive superiority on this shape is pinned in
  * `SkewSpec`.
  *
  * Usage: `sbt "runMain graft.GenScale <srcDir> <outDir> <factor> [zipf]"`.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val (src, out, factorS) = (args(0), args(1), args(2))
    val zipf = args.length > 3 && args(3).equalsIgnoreCase("zipf")
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = Harness.session()

    def table(name: String): DataFrame = ops.Util.t(spark, src, name)

    /** Key cardinality = max+1 (driver fixture keys are 0-based and
      * dense); the shift stride for one replica. */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** Union `factor` copies of `df`, applying `shift(copyIndex)`'s
      * column overrides to each. */
    def replicate(df: DataFrame)(
        shift: Int => Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
      (0 until factor).map { i =>
        shift(i).foldLeft(df) { case (d, (c, e)) => d.withColumn(c, e) }
      }.reduce(_ unionByName _)

    def mega(df: DataFrame, keyCol: String, idCols: Seq[String]): DataFrame =
      if (!zipf) df else megaKey(df, keyCol, idCols)

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // fixed dims
    write(table("region"), "region")
    write(table("nation"), "nation")

    val cust = table("customer")
    val supp = table("supplier")
    val part = table("part")
    val ords = table("orders")
    val li = table("lineitem")
    val ev = table("events")
    val docs = table("documents")
    val emb = table("embeddings")

    val nC = stride(cust, "c_custkey")
    val nS = stride(supp, "s_suppkey")
    val nP = stride(part, "p_partkey")
    val nO = stride(ords, "o_orderkey")
    val nE = stride(ev, "event_id")
    val nU = stride(ev, "user_id")
    val nD = stride(docs, "doc_id")
    val nV = stride(emb, "vec_id")

    write(replicate(cust)(i => Seq(
      "c_custkey" -> (col("c_custkey") + i * nC))), "customer")
    write(replicate(supp)(i => Seq(
      "s_suppkey" -> (col("s_suppkey") + i * nS))), "supplier")
    write(replicate(part)(i => Seq(
      "p_partkey" -> (col("p_partkey") + i * nP))), "part")
    write(mega(replicate(ords)(i => Seq(
      "o_orderkey" -> (col("o_orderkey") + i * nO),
      "o_custkey" -> (col("o_custkey") + i * nC))),
      "o_custkey", Seq("o_orderkey")), "orders")
    write(mega(mega(replicate(li)(i => Seq(
      "l_orderkey" -> (col("l_orderkey") + i * nO),
      "l_partkey" -> (col("l_partkey") + i * nP),
      "l_suppkey" -> (col("l_suppkey") + i * nS))),
      "l_suppkey", Seq("l_orderkey", "l_linenumber")),
      "l_partkey", Seq("l_orderkey", "l_linenumber", "l_suppkey")),
      "lineitem")
    write(mega(replicate(ev)(i => Seq(
      "event_id" -> (col("event_id") + i * nE),
      "user_id" -> (col("user_id") + i * nU))),
      "user_id", Seq("event_id")), "events")
    // documents: shift the key, rotate the text i words (word stats
    // preserved; copies stay detectable near-dups — see scaladoc)
    write(replicate(docs)(i => Seq(
      "doc_id" -> (col("doc_id") + i * nD),
      "text" -> (if (i == 0) col("text") else {
        val words = split(col("text"), " ")
        val n = size(words)
        val k = lit(i) % greatest(n, lit(1))
        array_join(concat(slice(words, k + 1, n), slice(words, lit(1), k)), " ")
      }))), "documents")
    write(replicate(emb)(i => Seq(
      "vec_id" -> (col("vec_id") + i * nV),
      "embedding" -> (if (i == 0) col("embedding") else
        concat(slice(col("embedding"), 1, 63),
          array((element_at(col("embedding"), 64) +
            lit(i.toFloat / 1024f)).cast("float")))))), "embeddings")

    spark.stop()
  }

  /** The zipf transform: route ~1% of rows (chosen by a deterministic
    * hash of `idCols` — reproducible, independent of the key being
    * skewed) to mega-key 0 on `keyCol`. Factored out so `SkewSpec`
    * can pin the planted density. */
  def megaKey(df: DataFrame, keyCol: String,
      idCols: Seq[String]): DataFrame =
    df.withColumn(keyCol,
      when(pmod(xxhash64(idCols.map(col): _*), lit(100)) === 0,
        lit(0L).cast(df.schema(keyCol).dataType))
        .otherwise(col(keyCol)))
}
