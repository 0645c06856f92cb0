package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator: replicates the driver's sf0.1
  * fixture tables R× (default 10× → "sf1.0") for empirical scaling
  * measurement (VERDICT r4 next-round item #1 — turn the 100 TB
  * posture from spec'd plan shapes into measured per-query ratios).
  *
  * Design constraints, so the scaled corpus stresses the engine the
  * way 10× more REAL data would, instead of manufacturing artifacts:
  *
  *  - **Key shifts, not key reuse.** Every PK/FK shifts by
  *    `replica * STRIDE`, preserving referential integrity within a
  *    replica (orders→customer, lineitem→{orders,part,supplier},
  *    events.user_id sessions). Group-by cardinalities on
  *    value columns (returnflag, status, mktsegment…) stay fixed
  *    while per-group row counts grow 10× — exactly the TPC-H
  *    scaling contract.
  *  - **Documents must NOT become cross-replica near-duplicates.**
  *    Naive text replication makes every doc a 10-way duplicate:
  *    LSH buckets and shared-shingle inverted indexes then grow
  *    C(R,2) pair lists — a quadratic blowup caused by the
  *    GENERATOR, not the engine, which would poison the scaling
  *    signal for the whole dedup family. Instead every 3rd token is
  *    salted with the replica id: the NARROWEST shingle window any
  *    operator uses is TextOps' 3-gram (q_dedup_span uses 5), and
  *    every window of width ≥ 3 contains an index ≡ 2 (mod 3), so
  *    cross-replica Jaccard over shingles is 0 while ~67 % of tokens
  *    (length, stopword and lang-id distributions) are preserved,
  *    and WITHIN-replica duplicate structure is untouched →
  *    duplicate-pair density scales linearly, as it would with real
  *    data. Replica 0 is byte-identical to the source corpus.
  *    (The first cut salted every 4TH token — correct for 5-gram
  *    windows, but 1 in 4 of the 3-GRAM windows then carried no salt
  *    and collided across ALL replicas: measured shingle max-df grew
  *    25 → 123 → 1113 across sf0.1/sf1.0/sf10 and candidate pairs
  *    65× per decade instead of 10×; the per-decade shingle max-df
  *    is the detector.)
  *  - **Embeddings get a per-replica orthogonal transform** (sign
  *    flip of a deterministic coordinate subset): inner products and
  *    norms WITHIN a replica are exactly preserved (same top-k
  *    structure, same centroid geometry) while replicas land in
  *    different LSH/IVF regions — vector cardinality grows 10×
  *    without manufacturing 10-way embedding duplicates.
  *  - region/nation stay fixed (TPC-H dimension contract).
  *
  * Output is written OUTSIDE git (testdata_sf1.0/, .gitignored) and
  * is a pure function of the source tables — rerunning regenerates
  * byte-identical content.
  */
object ScaleGen {
  /** Key offset between replicas; far above any sf0.1 key (max is
    * l_orderkey ≈ 6·10⁵) so shifted ranges cannot collide.
    */
  val STRIDE = 10000000L

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "testdata_sf1.0"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.getOrCreate()

    def t(name: String): DataFrame = graft.Tables(spark, srcDir, name)

    /** One row per (source row, replica): explode a 0..R-1 literal
      * array — a map-side fan-out, no shuffle.
      */
    def fan(df: DataFrame): DataFrame =
      df.withColumn("r", explode(lit((0 until replicas).toArray)))
    def shift(df: DataFrame, cs: String*): DataFrame =
      cs.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + col("r") * lit(STRIDE)))

    def write(name: String, df: DataFrame, parts: Int): Unit = {
      df.drop("r").repartition(parts)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(s"[scalegen] wrote $name")
    }

    // dimensions: fixed
    write("region", t("region"), 1)
    write("nation", t("nation"), 1)

    write("customer", shift(fan(t("customer")), "c_custkey"), 4)
    write("supplier", shift(fan(t("supplier")), "s_suppkey"), 1)
    write("part", shift(fan(t("part")), "p_partkey"), 2)
    write("orders",
      shift(fan(t("orders")), "o_orderkey", "o_custkey"), 8)
    write("lineitem",
      shift(fan(t("lineitem")), "l_orderkey", "l_partkey", "l_suppkey"), 16)
    write("events",
      shift(fan(t("events")), "event_id", "user_id"), 8)

    // documents: shift doc_id; salt every 3rd token with the replica
    // id (replica 0 untouched) so every ≥3-token shingle window holds
    // a salt; recompute n_chars for the new text
    val docs = shift(fan(t("documents")), "doc_id")
      .withColumn("text",
        when(col("r") === 0, col("text")).otherwise(
          array_join(
            transform(split(col("text"), " "), (w, i) =>
              when(i % 3 === 2, concat(w, lit("x"), col("r")))
                .otherwise(w)),
            " ")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write("documents", docs, 8)

    // embeddings: shift vec_id; per-replica deterministic sign flip
    // (orthogonal ⇒ within-replica inner products exactly preserved)
    val emb = shift(fan(t("embeddings")), "vec_id")
      .withColumn("embedding",
        when(col("r") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            transform(sequence(lit(0), size(col("embedding")) - 1),
              i => pmod(hash(i, col("r")), lit(2))),
            // + 0.0f: flipping an exact 0.0f would mint -0.0f, a value
            // class absent from the source data (and one the engines
            // render differently); adding positive zero canonicalizes
            // it and changes nothing else
            (x, bit) => when(bit === 0, x).otherwise(-x) + lit(0.0f))
            .cast("array<float>")))
    write("embeddings", emb, 4)

    System.err.println(s"[scalegen] done → $outDir (${replicas}x $srcDir)")
    spark.stop()
  }
}
