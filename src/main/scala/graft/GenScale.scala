package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixture inflation: `GenScale <srcDir> <dstDir> <factor>`
  * replicates the driver fixture tables `factor`× with disjoint key spaces,
  * producing an sf×factor corpus for EMPIRICAL scale validation (the 100×
  * design claims are otherwise argued purely from plan shape). Not a data
  * generator — a measured-distribution amplifier:
  *
  *  - every key column is offset by `replica × (max(key)+1)`, consistently
  *    across fact/dimension references, so referential integrity, join
  *    fan-outs, and per-key cardinalities are preserved exactly;
  *  - timestamps are NOT shifted: windows/watermarks see `factor`× rows per
  *    window, which is what "more traffic" means, rather than a longer
  *    history of identical density;
  *  - `documents.text` gets a per-replica suffix on EVERY word (replica 0
  *    is the identity, so sf1 ⊃ sf0.1). Within a replica the near-dup
  *    structure is untouched; across replicas shingle sets are disjoint, so
  *    pair-emitting queries (MinHash/SimHash/Jaccard) scale their OUTPUT
  *    linearly — naive replication would make every document a 10-way
  *    near-dup of itself and inflate pair output quadratically, measuring a
  *    fixture artifact instead of the engine;
  *  - `embeddings.embedding` is rotated by `replica` positions: norms and
  *    within-replica distances are exactly preserved (top-k structure
  *    repeats per replica), while cross-replica vectors decorrelate instead
  *    of becoming `factor`-way exact ties;
  *  - `nation`/`region` stay fixed — dimensions don't grow with scale
  *    (TPC-H's own rule), which keeps broadcast-vs-shuffle decisions honest.
  *
  * Deterministic by construction (pure column arithmetic, no RNG), so two
  * runs produce byte-identical row sets.
  */
object GenScale {

  private def maxPlus1(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenScale <srcDir> <dstDir> [factor=10]")
    val (src, dst) = (args(0), args(1))
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("WARN")

    val oOff = maxPlus1(Tables.orders(spark, src), "o_orderkey")
    val cOff = maxPlus1(Tables.customer(spark, src), "c_custkey")
    val pOff = maxPlus1(Tables.part(spark, src), "p_partkey")
    val sOff = maxPlus1(Tables.supplier(spark, src), "s_suppkey")
    val eOff = maxPlus1(Tables.events(spark, src), "event_id")
    val uOff = maxPlus1(Tables.events(spark, src), "user_id")
    val dOff = maxPlus1(Tables.documents(spark, src), "doc_id")
    val vOff = maxPlus1(Tables.embeddings(spark, src), "vec_id")

    /** k replicas of `df`, each transformed by `shift(replica)`. */
    def inflate(df: DataFrame, shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => shift(df, i)).reduce(_ unionAll _)

    def bump(c: String, off: Long, i: Int): (String, org.apache.spark.sql.Column) =
      c -> (col(c) + lit(off * i))

    def write(name: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(s"[genscale] $name x$k -> $dst/$name.parquet")
    }

    write("region", Tables.region(spark, src), 1)
    write("nation", Tables.nation(spark, src), 1)

    write("supplier", inflate(Tables.supplier(spark, src), (df, i) =>
      df.withColumns(Map(bump("s_suppkey", sOff, i)))), 1)
    write("customer", inflate(Tables.customer(spark, src), (df, i) =>
      df.withColumns(Map(bump("c_custkey", cOff, i)))), 2)
    write("part", inflate(Tables.part(spark, src), (df, i) =>
      df.withColumns(Map(bump("p_partkey", pOff, i)))), 2)
    write("orders", inflate(Tables.orders(spark, src), (df, i) =>
      df.withColumns(Map(bump("o_orderkey", oOff, i), bump("o_custkey", cOff, i)))), 8)
    write("lineitem", inflate(Tables.lineitem(spark, src), (df, i) =>
      df.withColumns(Map(bump("l_orderkey", oOff, i), bump("l_partkey", pOff, i),
        bump("l_suppkey", sOff, i)))), 32)
    // events keep their physical ts generation via the normalized reader;
    // written back as the session's TimestampType (round-6+ generation)
    write("events", inflate(Tables.events(spark, src), (df, i) =>
      df.withColumns(Map(bump("event_id", eOff, i), bump("user_id", uOff, i)))), 8)

    write("documents", inflate(Tables.documents(spark, src), (df, i) =>
      if (i == 0) df
      else df
        .withColumn("doc_id", col("doc_id") + lit(dOff * i))
        .withColumn("text",
          array_join(transform(split(col("text"), " "),
            w => concat(w, lit(s"_$i"))), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))), 8)

    // rotation must stay inside the dimension (factor can exceed it): use
    // i mod dim positions, composed with a GLOBAL NEGATION for replicas
    // past one full rotation cycle — both are isometries (norms and
    // within-replica distances exactly preserved) and together give
    // 2×dim distinct transforms, so replicas decorrelate up to factor 128
    val dim = Tables.embeddings(spark, src)
      .select(size(col("embedding"))).head().getInt(0)
    write("embeddings", inflate(Tables.embeddings(spark, src), (df, i) =>
      if (i == 0) df
      else {
        val r = i % dim
        val rotated = df
          .withColumn("vec_id", col("vec_id") + lit(vOff * i))
          .withColumn("embedding", concat(
            slice(col("embedding"), lit(r + 1), size(col("embedding")) - lit(r)),
            slice(col("embedding"), lit(1), lit(r))))
        if ((i / dim) % 2 == 0) rotated
        else rotated.withColumn("embedding",
          transform(col("embedding"), x => -x))
      }), 8)

    spark.stop()
  }
}
