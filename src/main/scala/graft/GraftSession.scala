package graft

import org.apache.spark.sql.SparkSession

/** The one place session config lives. Every `main` (Bench, BenchReps,
  * Verify, PlanAudit, ScaleProbe, StreamScaleProbe, ContainmentStaged,
  * ScaleGen) and the test suite's shared session build through
  * [[builder]], so a spec plans the way the driver's runs do and a
  * measurement from one tool is comparable with another's.
  */
object GraftSession {
  /** Local core count: `SPARK_GRAFT_CPUS`, default 32 (the driver host). */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `local[cpus]` with the engine's config, sized for the tables under
    * `sfDir`. Returns the builder so a caller can chain its own extra
    * confs (ContainmentStaged) before `getOrCreate()`. */
  def builder(cpus: Int, sfDir: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Static conf: the default codegen cache is 100 entries — a
      // 90+-query suite evicts the iterative EM loop's stable entry
      // mid-run, so its iterations recompile (observed as random
      // 10-18 s em_gmm transients). 1000 entries fits the whole catalog.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's pre-coalesce shuffle width, DERIVED from the input size
      // (see Parts.scala): sf0.1 derives to the core count, slice runs
      // derive wider so per-partition builds stay in memory and AQE
      // coalesces the small stages back down — the sizing a cluster
      // engine does itself (SCALING.md).
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Parts.derive(sfDir, cpus).toString)
      .config("spark.ui.enabled", "false")
}
