package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Steady-state evidence for the bench numbers: run the transient-prone
  * headline queries N reps each in ONE JVM and write per-rep timings +
  * medians as JSON (committed per round as REPS_r{N}.json). BENCH r2→r3
  * moved +29% on identical code; this artifact makes the host-noise
  * explanation checkable instead of narrative — a steady-state median
  * inside the recorded envelope says the plan didn't regress, whatever
  * single-shot number the round's bench drew.
  *
  * Each query's record also carries its PHYSICAL work over the final
  * rep — input records read, shuffle bytes/records written and read,
  * spill, peak task memory and task count — summed by a
  * SparkListener over task metrics. Wall-clock medians on a shared host
  * wobble with neighbor load; these totals are a property of the plan
  * and the data, so "shuffle records grow 10× for 10× input" holds
  * whatever the wall clock drew that day (SCALE100X.json pairs both
  * views per operator).
  *
  * Usage: `sbt "runMain graft.BenchReps [outFile] [reps] [query...]"`
  * (defaults: stdout+REPS.json, 5 reps, the `defaultQueries` set below;
  * a full default run is a few minutes of sf0.1 session). One query with
  * a few reps is the single-query steady-state timer. */
object BenchReps {
  /** Top-15 of the benched set by r4 single-shot cost, the r4 watch
    * items (gamma_fixed, decontam_overlap) and the round-13
    * driver-flagged movers (ann_pq_topk, agg_skew_twophase, embed_kmeans,
    * curation_source_overlap; dedup_embedding_lsh was already in) — the
    * steady-state medians are the regression gate (BASELINE.md), so
    * every expensive or moving query needs one. */
  val defaultQueries: Seq[String] = Seq(
    "em_gmm", "agg_approx_percentile", "dedup_clusters",
    "dedup_minhash_lsh", "curation_pipeline", "dedup_embedding_lsh",
    "dedup_span_coverage", "join_salted_skew", "decontam_overlap",
    "agg_approx_distinct", "dedup_simhash", "ann_ivf_topk",
    "text_quality_score", "q7_volume_shipping", "events_asof_join",
    "gamma_fixed", "text_jaccard_pairs", "ann_pq_topk",
    "agg_skew_twophase", "embed_kmeans", "curation_source_overlap")

  /** Task-metric totals of every task that ends while attached. */
  private final class TaskTotals extends SparkListener {
    val inputRecords = new LongAdder
    val shuffleWriteBytes = new LongAdder
    val shuffleWriteRecords = new LongAdder
    val shuffleReadBytes = new LongAdder
    val shuffleReadRecords = new LongAdder
    val diskSpill = new LongAdder
    val memSpill = new LongAdder
    val peakTaskMem = new AtomicLong(0L)
    val tasks = new LongAdder

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        inputRecords.add(m.inputMetrics.recordsRead)
        shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleWriteRecords.add(m.shuffleWriteMetrics.recordsWritten)
        shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleReadRecords.add(m.shuffleReadMetrics.recordsRead)
        diskSpill.add(m.diskBytesSpilled)
        memSpill.add(m.memoryBytesSpilled)
        peakTaskMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        tasks.increment()
      }
    }

    def snapshot(): Seq[(String, Long)] = Seq(
      "disk_spill_bytes" -> diskSpill.sum,
      "input_records" -> inputRecords.sum, "mem_spill_bytes" -> memSpill.sum,
      "peak_task_mem_bytes" -> peakTaskMem.get,
      "shuffle_read_bytes" -> shuffleReadBytes.sum,
      "shuffle_read_records" -> shuffleReadRecords.sum,
      "shuffle_write_bytes" -> shuffleWriteBytes.sum,
      "shuffle_write_records" -> shuffleWriteRecords.sum,
      "tasks" -> tasks.sum)
  }

  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("REPS.json")
    val reps = if (args.length > 1) args(1).toInt else 5
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val queries = if (args.length > 2) args.drop(2).toSeq else defaultQueries
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus, sfDir).getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", v)
    val entries = queries.map { name =>
      val totals = new TaskTotals
      val times = (1 to reps).map { rep =>
        if (rep == reps) sc.addSparkListener(totals)
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        if (rep == reps) {
          // the bus is async: deliver every task-end event of the rep
          // before the listener detaches
          ListenerBusDrain(sc)
          sc.removeSparkListener(totals)
        }
        spark.catalog.clearCache()
        sec
      }
      val sorted = times.sorted
      // the median absorbs both rep-1 codegen/JIT cost and single-rep
      // host transients; the full rep list is kept so cold-vs-warm is
      // visible in the artifact (true median: middle-two mean when even)
      val median =
        if (reps % 2 == 1) sorted(reps / 2)
        else (sorted(reps / 2 - 1) + sorted(reps / 2)) / 2.0
      val work = totals.snapshot()
      System.err.println(
        s"[reps] $name: ${times.map(fmt).mkString(", ")} (median ${fmt(median)}, " +
          s"${totals.tasks.sum} tasks in the last rep)")
      val repsJson = times.map(fmt).mkString("[", ",", "]")
      val workJson = work.map { case (k, v) => s""","$k":$v""" }.mkString
      s""""$name":{"reps":$repsJson,"median":${fmt(median)}$workJson}"""
    }
    val sfName = sfDir.split('/').last
    val json =
      s"""{"sf":"$sfName","cpus":$cpus,"reps_per_query":$reps,"queries":{${entries.mkString(",")}}}"""
    println(json)
    Files.writeString(Paths.get(outFile), json + "\n")
    spark.stop()
  }
}
