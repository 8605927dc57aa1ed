package graft

/** Campaign runner for the STAGED containment dedup, for
  * corpora whose single-pass run exhausts shuffle scratch — the staging
  * aggregates and the array verify each shuffle corpus-sized data, not
  * just the candidate join. So it stages ONCE, bands the candidate join,
  * and verifies ONCE, one JVM per step (scratch reclaimed at exit):
  *
  *  - `stage`:  [[operators.Dedup.containmentStaging]]'s sh/arr/prefix,
  *              written as parquet;
  *  - `derive`: prints the candidate mass's pass count B for the scratch
  *              budget (`SPARK_GRAFT_SCRATCH_BUDGET_GB`, default 24); the
  *              campaign then runs bands 0..B−1 with <passes> = B;
  *  - `<b>`:    band b's DISTINCT candidate id pairs (8-byte key join,
  *              no array payloads) — ~1/B of the candidate exchange;
  *  - `verify`: ONE containment verify of all bands' distinct candidates,
  *              written as `merged` (spec-proven ≡ the single pass).
  *
  * Every step shuffles with zstd (~2× lz4 on hashed keys: scratch
  * headroom, not a results change). `verify` alone raises the broadcast
  * threshold to 8 GB, so by Dedup's size rule the planner broadcasts the
  * doc→array table (~2.5 GB at 5M docs) into both lookups and the ~1e9
  * candidate pairs stream through map-side probes, instead of a
  * sort-merge chain re-shuffling them with a ~400 B/row array payload;
  * the other steps keep the default, so their key joins stay shuffled.
  *
  * Usage: ContainmentStaged <sfDir> <outRoot> <passes> <stage|derive|<b>|verify>
  * where `<b>` is a band index in [0, passes); `stage` and `derive`
  * ignore `<passes>`.
  */
object ContainmentStaged {
  def main(args: Array[String]): Unit = {
    val usage =
      "usage: ContainmentStaged <sfDir> <outRoot> <passes> <stage|derive|<b>|verify>"
    require(args.length == 4, usage)
    val Array(sfDir, outRoot, passesS, step) = args
    // a mistyped step would otherwise be taken as a band index
    require(Set("stage", "derive", "verify")(step) || step.toIntOption.isDefined,
      usage)
    val passes = passesS.toInt
    val builder = GraftSession.builder(GraftSession.cpus, sfDir)
      .config("spark.io.compression.codec", "zstd")
      // the broadcast-verify build collects the doc->array table through
      // the driver; the 1g default abort is a local-mode artifact — on a
      // cluster the same broadcast is torrent-distributed
      .config("spark.driver.maxResultSize", "8g")
    if (step == "verify")
      builder.config("spark.sql.autoBroadcastJoinThreshold", "8g")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Dedup
    def staged(name: String) = spark.read.parquet(s"$outRoot/staging/$name")
    val t0 = System.nanoTime()
    val n = step match {
      case "stage" =>
        val (sh, arr, prefix) = Dedup.containmentStaging(
          Dedup.keys(Tables.documents(spark, sfDir), "doc_id", "text", 3),
          threshold = 0.5, maxShingleDf = 100)
        sh.write.mode("overwrite").parquet(s"$outRoot/staging/sh")
        arr.write.mode("overwrite").parquet(s"$outRoot/staging/arr")
        prefix.write.mode("overwrite").parquet(s"$outRoot/staging/prefix")
        staged("sh").count()
      case "derive" =>
        val budgetGb = sys.env.getOrElse("SPARK_GRAFT_SCRATCH_BUDGET_GB",
          "24").toLong
        val b = Dedup.deriveContainmentPasses(
          staged("prefix"), staged("sh"), budgetGb << 30)
        println(s"""{"derived_passes":$b,"budget_gb":$budgetGb}""")
        b.toLong
      case "verify" =>
        val cand = spark.read
          .parquet((0 until passes).map(b => s"$outRoot/cand_$b"): _*)
          .distinct()
        Dedup.containmentVerify(cand, staged("arr"), threshold = 0.5)
          .write.mode("overwrite").parquet(s"$outRoot/merged")
        spark.read.parquet(s"$outRoot/merged").count()
      case b =>
        Dedup.containmentCandidatesBand(
            staged("prefix"), staged("sh"), b.toInt, passes)
          .write.mode("overwrite").parquet(s"$outRoot/cand_$b")
        spark.read.parquet(s"$outRoot/cand_$b").count()
    }
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"step":"$step","passes":$passes,"rows":$n,"sec":$sec%.1f}""")
    spark.stop()
  }
}
