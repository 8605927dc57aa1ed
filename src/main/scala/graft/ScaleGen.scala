package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic fixture upscaler: replicate a driver-generated sfDir
  * `mult`× with consistent id-space offsets, producing a larger slice of
  * the SAME star schema for second-decade scale runs (SCALE10X evidence —
  * VERDICT r6 gap #1: "every scale claim above one decade of the
  * correctness gate is design-argument, not measurement").
  *
  * Copy c ∈ [0, mult) offsets every key column by c × (its table's id
  * space), so referential integrity holds WITHIN each copy and the
  * joined/graph row counts scale linearly (the part/supplier key spaces
  * are offset too — otherwise the pagerank graph would keep its node
  * count and only densify). region/nation stay fixed (bounded dims, like
  * production).
  *
  * Content perturbations keep the scaled corpus non-degenerate without
  * inventing a new generator:
  *  - documents: copies form bounded NEAR-DUPLICATE groups of
  *    `DupGroup` (= 10). Within a group, variant v drops the first v
  *    tokens (shared spans, high Jaccard — same as the original 10×
  *    scheme). ACROSS groups, group g > 0 suffixes "~g" onto ~3/7 of
  *    token positions, which drives cross-group shingle Jaccard below
  *    any LSH threshold. This mirrors how real corpora scale — more
  *    duplicate clusters, not bigger ones — so dedup work grows
  *    linearly with mult instead of quadratically (a 100-copy cluster
  *    would mean O(mult²) candidate pairs per original, a workload no
  *    production corpus exhibits). For mult ≤ 10 there is a single
  *    group (g = 0, no salt): bit-identical to the round-7 SCALE10X
  *    slice.
  *  - embeddings: a deterministic per-(vec, dim, copy) ±5e-3 jitter so
  *    copies are near-neighbors, not exact ties. The base formula has
  *    period 11 in the copy index, so copies ≥ 10 add a second
  *    decorrelating term (gated on copy ≥ 10 — mult ≤ 10 output is
  *    unchanged) to keep far-apart copies from colliding bit-exactly.
  * Both run as pure column expressions over the base parquet — the
  * output is a plain parquet dir that `graft.Tables` reads unchanged,
  * and DuckDB reads the same files for the oracle, so hash checks work
  * at any scale.
  *
  * Usage: `sbt "runMain graft.ScaleGen <baseSfDir> <outDir> [mult] [tables]"`
  * — `tables` (optional, comma-separated) restricts output to a subset
  * (plus the bounded dims), so a fourth-decade probe of a documents-only
  * operator family doesn't pay for a 600M-row lineitem write.
  */
object ScaleGen {
  /** Near-duplicate cluster size for documents (and the decorrelation
    * stride for embedding jitter): copies [g·10, g·10+9] form one
    * near-dup group. Bounded cluster size is what keeps dedup work
    * linear in `mult` — see the class doc. */
  val DupGroup: Int = 10

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val out = args(1)
    val mult = if (args.length > 2) args(2).toInt else 10
    require(mult >= 1, s"mult must be >= 1, got $mult")
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    val spark = GraftSession.builder(GraftSession.cpus, base).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    write(spark, base, out, mult, only)
    spark.stop()
  }

  /** Key-space stride for one table: max key + 1 over the BASE slice, so
    * copy c's ids occupy [c·stride, (c+1)·stride) with no collisions.
    * Derived from the data (one tiny agg per key table), which keeps the
    * mapping correct under any driver regen of the base fixtures. */
  private def stride(spark: SparkSession, base: String, table: String,
      key: String): Long =
    Tables(spark, base, table).agg(max(col(key))).head().getLong(0) + 1L

  def write(spark: SparkSession, base: String, out: String, mult: Int,
      only: Set[String] = Set.empty): Unit = {
    val copies = spark.range(0, mult.toLong).select(col("id").as("_copy"))
    def replicate(df: DataFrame): DataFrame = df.crossJoin(broadcast(copies))
    def wanted(name: String): Boolean = only.isEmpty || only(name) ||
      name == "region" || name == "nation" // bounded dims always ship

    val okStride = stride(spark, base, "orders", "o_orderkey")
    val ckStride = stride(spark, base, "customer", "c_custkey")
    val pkStride = stride(spark, base, "part", "p_partkey")
    val skStride = stride(spark, base, "supplier", "s_suppkey")
    val evStride = stride(spark, base, "events", "event_id")
    val usStride = stride(spark, base, "events", "user_id")
    val docStride = stride(spark, base, "documents", "doc_id")
    val vecStride = stride(spark, base, "embeddings", "vec_id")

    def off(c: String, s: Long) = col(c) + col("_copy") * lit(s)

    // single FILE per table (<name>.parquet), the driver's fixture layout
    // — DuckDB's oracle views read bare file paths, not directories
    def save(name: String, df: DataFrame): Unit = {
      if (!wanted(name)) { System.err.println(s"[scalegen] $name skipped"); return }
      val tmp = s"$out/_tmp_$name"
      df.drop("_copy").coalesce(1).write.mode("overwrite").parquet(tmp)
      val dir = new java.io.File(tmp)
      val part = dir.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $name"))
      val dest = new java.io.File(s"$out/$name.parquet")
      if (dest.exists()) dest.delete()
      if (!part.renameTo(dest)) sys.error(s"rename failed for $name")
      dir.listFiles().foreach(_.delete())
      dir.delete()
      System.err.println(s"[scalegen] $name written")
    }

    // fixed dims: straight copies of the base (region/nation are bounded
    // in any deployment; every copy shares them)
    Seq("region", "nation").foreach { t =>
      save(t, Tables(spark, base, t))
    }

    save("customer", replicate(Tables.customer(spark, base))
      .withColumn("c_custkey", off("c_custkey", ckStride)))
    save("supplier", replicate(Tables.supplier(spark, base))
      .withColumn("s_suppkey", off("s_suppkey", skStride)))
    save("part", replicate(Tables.part(spark, base))
      .withColumn("p_partkey", off("p_partkey", pkStride)))
    save("orders", replicate(Tables.orders(spark, base))
      .withColumn("o_orderkey", off("o_orderkey", okStride))
      .withColumn("o_custkey", off("o_custkey", ckStride)))
    save("lineitem", replicate(Tables.lineitem(spark, base))
      .withColumn("l_orderkey", off("l_orderkey", okStride))
      .withColumn("l_partkey", off("l_partkey", pkStride))
      .withColumn("l_suppkey", off("l_suppkey", skStride)))
    save("events", replicate(Tables.events(spark, base))
      .withColumn("event_id", off("event_id", evStride))
      .withColumn("user_id", off("user_id", usStride)))

    // documents: bounded near-dup groups of DupGroup. grp = copy / 10
    // (cross-group token salt), variant = copy % 10 (first-v-token drop,
    // the 10× scheme). n_chars re-derived so profile/quality queries
    // stay consistent.
    val grp = (col("_copy") / DupGroup).cast("int")
    val variant = pmod(col("_copy"), lit(DupGroup.toLong)).cast("int")
    val salted = when(grp === 0, split(trim(col("text")), "\\s+"))
      .otherwise(transform(split(trim(col("text")), "\\s+"), (t, p) =>
        when(pmod(p * 3 + 1, lit(7)) < 3, concat(t, lit("~"), grp))
          .otherwise(t)))
    save("documents", replicate(Tables.documents(spark, base))
      .withColumn("text",
        when(col("_copy") === 0, col("text"))
          .otherwise(array_join(
            slice(salted, variant + 1, greatest(
              size(salted) - variant, lit(1))), " ")))
      .withColumn("doc_id", off("doc_id", docStride))
      .withColumn("n_chars", length(col("text"))))

    // embeddings: deterministic ±5e-3 jitter per (vec, dim, copy) keeps
    // copies near (not equal to) their originals in cosine space. The
    // first term has period 11 in _copy; the second (copies ≥ 10 only,
    // so mult ≤ 10 slices are unchanged) breaks that period so distant
    // copies don't collide into bit-exact ties.
    save("embeddings", replicate(Tables.embeddings(spark, base))
      .withColumn("embedding",
        when(col("_copy") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (x, i) =>
            (x + ((pmod(col("vec_id") * 31 + i * 7 + col("_copy"), lit(11)) - 5)
              .cast("double") * 0.001)
              + when(col("_copy") < DupGroup, lit(0.0)).otherwise(
                (pmod(col("vec_id") * 17 + i * 3
                  + (col("_copy") / DupGroup).cast("long") * 5, lit(9)) - 4)
                  .cast("double") * 0.0008)).cast("float"))))
      .withColumn("vec_id", off("vec_id", vecStride)))
  }
}
