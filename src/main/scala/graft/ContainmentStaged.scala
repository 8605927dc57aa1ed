package graft

import org.apache.spark.sql.functions._

/** Fourth-decade campaign runner for the STAGED containment dedup
  * (VERDICT r10 #3). The single-pass dedup_containment hits the box's
  * shuffle-scratch wall (ENOSPC mid-spill at ~68 GB) — and the round-11
  * post-mortem showed the scratch is NOT dominated by the candidate
  * join alone: the corpus-wide staging aggregates (hot-df count,
  * per-doc sorted arrays, prefix ranking) and the two array-payload
  * verify joins each shuffle corpus-sized data. So the decomposition
  * stages ONCE, bands the candidate join, and verifies ONCE:
  *
  *  - `stage`:  compute sh/arr/prefix once, write as parquet — one JVM
  *              paying the staging shuffles, reclaimed at exit;
  *  - `<b>`:    band b's DISTINCT candidate id pairs from the staged
  *              tables (8-byte key join, no array payloads) — ~1/B of
  *              the candidate exchange per JVM;
  *  - `verify`: distinct union of all bands' candidates, ONE
  *              array-verify against arr, threshold, write `merged`
  *              (spec-proven ≡ single-pass containmentPairsPrefix).
  *
  * Every step runs with zstd shuffle compression (~2× lz4 on these
  * hashed-key payloads) — scratch headroom, not a results change.
  *
  * Usage: ContainmentStaged <sfDir> <outRoot> <passes> <stage|derive|<b>|verify>
  * where `<b>` is a band index in [0, passes).
  *
  * `derive` (round 12, VERDICT r11 #2) sizes the pass count from the
  * staged tables instead of the hand-set CLI arg: it prints the exact
  * candidate mass Σ|prefix(sk)|·|sh(sk)| and the derived B for the
  * scratch budget (`SPARK_GRAFT_SCRATCH_BUDGET_GB`, default 24) — the
  * campaign then runs bands 0..B−1 with <passes> = that B. The
  * `<passes>` arg is ignored by `stage`/`derive`.
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
    val spark = GraftSession.builder(GraftSession.cpus, sfDir)
      .config("spark.io.compression.codec", "zstd")
      // the broadcast-verify build collects the doc->array table
      // (~2.5 GB at 5M docs) through the driver; the 1g default abort
      // is a local-mode artifact — on a cluster the same broadcast is
      // torrent-distributed from the executors
      .config("spark.driver.maxResultSize", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Dedup
    val t0 = System.nanoTime()
    val n = step match {
      case "stage" =>
        val (sh, arr, prefix) = Dedup.containmentPrefixStaging(
          Tables.documents(spark, sfDir), "doc_id", "text",
          k = 3, threshold = 0.5, maxShingleDf = 100)
        sh.write.mode("overwrite").parquet(s"$outRoot/staging/sh")
        arr.write.mode("overwrite").parquet(s"$outRoot/staging/arr")
        prefix.write.mode("overwrite").parquet(s"$outRoot/staging/prefix")
        spark.read.parquet(s"$outRoot/staging/sh").count()
      case "derive" =>
        val prefix = spark.read.parquet(s"$outRoot/staging/prefix")
        val sh = spark.read.parquet(s"$outRoot/staging/sh")
        val budgetGb = sys.env.getOrElse("SPARK_GRAFT_SCRATCH_BUDGET_GB",
          "24").toLong
        val b = Dedup.deriveContainmentPasses(prefix, sh, budgetGb << 30)
        println(s"""{"derived_passes":$b,"budget_gb":$budgetGb}""")
        b.toLong
      case "verify" =>
        val cand = spark.read
          .parquet((0 until passes).map(b => s"$outRoot/cand_$b"): _*)
          .distinct()
        val arr = spark.read.parquet(s"$outRoot/staging/arr")
        Dedup.containmentVerify(cand, arr, threshold = 0.5,
            broadcastArr = true)
          .write.mode("overwrite").parquet(s"$outRoot/merged")
        spark.read.parquet(s"$outRoot/merged").count()
      case b =>
        val prefix = spark.read.parquet(s"$outRoot/staging/prefix")
        val sh = spark.read.parquet(s"$outRoot/staging/sh")
        Dedup.containmentCandidatesBand(prefix, sh, b.toInt, passes)
          .write.mode("overwrite").parquet(s"$outRoot/cand_$b")
        spark.read.parquet(s"$outRoot/cand_$b").count()
    }
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"step":"$step","passes":$passes,"rows":$n,"sec":$sec%.1f}""")
    spark.stop()
  }
}
