package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Self-scaled benchmark data: replicate the driver's sf0.1 tables by an
  * integer factor with structure-preserving perturbations, so the heavy
  * queries can be measured at ~sf1 locally and their sf0.1→sf1 scaling
  * ratios checked for superlinearity (the empirical validation of the
  * blocked-join caps that are otherwise argued, not measured, at scale).
  *
  * Perturbation design — the point is that each copy scales the WORK
  * linearly without inventing cross-copy coincidences a real 10× corpus
  * wouldn't have:
  *  - keys are offset per copy (offset 10^7 · copy, far above any sf0.1
  *    key) consistently across fact/dim tables, so joins stay
  *    referentially intact and copy-local;
  *  - document text gets a per-copy suffix on EVERY token (`_cN`), which
  *    preserves the within-copy duplicate/near-duplicate structure exactly
  *    while making cross-copy docs share no shingles — duplicate CLUSTERS
  *    stay constant-sized as the corpus grows, the constant-dup-RATE shape
  *    of a real corpus (naive replication would grow every cluster by the
  *    factor and quadratically explode the pair generators — overstating
  *    scale costs with data no real corpus produces);
  *  - embeddings are transformed per copy by a deterministic diagonal ±1
  *    matrix (seeded sign flip per dimension): an orthogonal transform, so
  *    every within-copy dot product / norm / near-dup pair is EXACTLY
  *    preserved while cross-copy cosines decorrelate;
  *  - events replicate into the same time range (10× the event rate, the
  *    realistic shape for a bigger deployment); region/nation stay fixed
  *    (they are bounded dimensions at any scale).
  *
  * Usage: ScaleUp <srcDir> <dstDir> <factor>  (driver tables are read-only
  * — dst must be a scratch dir). Runs distributed end-to-end.
  */
object ScaleUp {
  private val Off = 10000000L // per-copy key offset, > any sf0.1 key

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <dstDir> <factor>")
    val Array(src, dst, fStr) = args
    val factor = fStr.toInt
    require(factor >= 1 && factor <= 100, "factor in [1, 100]")
    val spark = Harness.session()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")

    /** Union `factor` copies of df, applying `perCopy(copy)` to each. */
    def replicate(df: DataFrame, perCopy: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => perCopy(df, i)).reduce(_ unionByName _)

    def offset(cols: String*)(df: DataFrame, i: Int): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(Off * i)))

    // documents: suffix every token for copies > 0; n_chars tracks the text
    write(replicate(read("documents"), (df, i) => {
      val d = offset("doc_id")(df, i)
      if (i == 0) d
      else d.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1_c$i"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }), "documents")

    // embeddings: per-copy diagonal +-1 orthogonal transform
    write(replicate(read("embeddings"), (df, i) => {
      val d = offset("vec_id")(df, i)
      if (i == 0) d
      else d.withColumn("embedding",
        zip_with(col("embedding"),
          sequence(lit(0), size(col("embedding")) - 1),
          // sign from a real per-(copy, dim) hash — a linear form in (i, j)
          // with odd coefficients reduces mod 2 to parity(i + j), making
          // copies two apart apply IDENTICAL sign patterns (cosine ±1
          // cross-copy duplicates, quadratically inflating near-dup pairs)
          (x, j) => when(pmod(xxhash64(lit(i), j), lit(2L)) === 0, x).otherwise(-x)))
    }), "embeddings")

    write(replicate(read("lineitem"),
      offset("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate(read("orders"), offset("o_orderkey", "o_custkey")), "orders")
    write(replicate(read("part"), offset("p_partkey")), "part")
    write(replicate(read("customer"), offset("c_custkey")), "customer")
    write(replicate(read("supplier"), offset("s_suppkey")), "supplier")
    // events: the source ts encoding varies by testdata generation —
    // TIMESTAMP(NANOS) (rounds 1-5) or timestamp[us]/NTZ (round 6+). The
    // legacy conf makes a nanos source read as plain INT64 (and is a no-op
    // on µs sources), so the replica carries either INT64-nanos or NTZ,
    // both of which the schema-sniffing graft.Tables.events normalizes.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    write(replicate(spark.read.parquet(s"$src/events.parquet"),
      offset("event_id", "user_id")), "events")
    write(read("region"), "region")
    write(read("nation"), "nation")
    println(s"""{"scaled": "$dst", "factor": $factor}""")
    spark.stop()
  }
}
