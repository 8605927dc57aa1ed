package graft

import java.io.File

/** Derives the AQE pre-coalesce shuffle width
  * (`spark.sql.adaptive.coalescePartitions.initialPartitionNum`) from the
  * INPUT SIZE, the sizing a real cluster engine does itself instead of a
  * hand-set env var (VERDICT r10 #2 — the fourth-decade slices needed a
  * manual SPARK_GRAFT_INIT_PARTS=512 or hash-map builds OOM'd at
  * ~1.2 GiB/task of the 40 GiB pool at the 32-wide default).
  *
  * Model: a shuffle build's LIVE size is input bytes × an expansion
  * factor, and the width must keep per-task live bytes under a target.
  * Compressed parquet bytes understate live JVM bytes wildly and
  * UNEVENLY, so the expansion is per table KIND, both factors measured
  * on this engine's hot paths:
  *  - free-text tables (documents): shingle/k-gram explosion × string
  *    object overhead ≈ 256× (measured: the 185 MiB docs1000 slice drove
  *    ≈ 38 GiB of live hash-map build objects at width 32);
  *  - row tables (lineitem, events, embeddings, ...): decode + object
  *    overhead ≈ 16× (zstd text-free parquet ~4× + boxing/rows ~4×).
  * Width = Σ(bytes × expansion) / 128 MiB live-per-task, floored at the
  * core count (never narrower than the machine) and capped at 2048
  * (beyond which per-partition scheduling overhead dominates on one
  * box). AQE coalesces the small stages back down, so oversizing is
  * cheap; undersizing is the OOM — hence ceil everywhere.
  */
object Parts {
  private val TargetTaskBytes = 128L << 20
  private val TextExpansion = 256L
  private val RowExpansion = 16L
  private val MaxWidth = 2048L

  /** Free-text payload tables — the shingle-explosion expansion class. */
  private def isText(name: String): Boolean = name.startsWith("documents")

  private def sizeOf(f: File): Long =
    if (f.isDirectory) {
      val kids = f.listFiles
      if (kids == null) 0L else kids.map(sizeOf).sum
    } else f.length

  /** Estimated live shuffle-build bytes for every table under `sfDir`. */
  def estimatedLiveBytes(sfDir: String): Long = {
    val d = new File(sfDir)
    val kids = Option(d.listFiles).getOrElse(Array.empty[File])
    kids.map { f =>
      sizeOf(f) * (if (isText(f.getName)) TextExpansion else RowExpansion)
    }.sum
  }

  /** The derived width for the tables under `sfDir` on `cpus` cores. */
  def derive(sfDir: String, cpus: Int): Int = {
    val w = math.ceil(
      estimatedLiveBytes(sfDir).toDouble / TargetTaskBytes).toLong
    math.min(MaxWidth, math.max(cpus.toLong, w)).toInt
  }
}
