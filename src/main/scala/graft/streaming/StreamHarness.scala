package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame

/** Drives a Structured Streaming pipeline to completion over a BOUNDED
  * input and returns the final sink table — the correctness harness that
  * gives the streaming surface the same driver-visible oracle evidence as
  * the batch queries (VERDICT r4 gap #1).
  *
  * Shape: the batch input is materialized to a temp parquet dir and
  * re-read as a FILE STREAM (all initial files form micro-batch 0 — no
  * `collect()` round-trip through the driver, unlike a MemoryStream
  * feed), the pipeline writes to a uniquely-named memory sink, and
  * optional `flushes` batches are appended as new files with a
  * `processAllAvailable()` barrier between each — the standard trick to
  * advance the event-time watermark past all real data so append-mode
  * windows emit and event-time timers fire (two flushes: the first moves
  * the watermark at its batch END, the second gives the engine a batch in
  * which the timers/eviction actually run).
  *
  * This is a TEST harness for bounded correctness runs; the production
  * path for the same pipelines is `writeStream` to a real sink
  * (ParquetSink / StagedCommitSink). The memory sink bounds driver memory
  * by the RESULT size (aggregated state), not the input.
  */
object StreamHarness {
  private val seq = new AtomicInteger(0)

  /** Deterministic micro-batch ORDER for a file-source chunk dir: stamp
    * the data files the latest write added with a fixed past epoch +
    * `chunkIdx`·2 s. The former `Thread.sleep(3)` tie-break relied on
    * the filesystem exposing millisecond mtimes — on a coarse (e.g. 1 s)
    * granularity store two chunk files can tie and the batch order (and
    * so `_batch_id` assignment) can flip (ADVICE r11). Fresh files are
    * recognized by carrying a real current mtime (far above the fixed
    * epoch); `_`/`.`-prefixed bookkeeping files are ignored, matching
    * the source's own path filter. All stamps land within seconds of
    * each other, so FileStreamSource's maxFileAge retention (7 d behind
    * the newest file) never drops one. */
  private val ChunkEpochMs = 1600000000000L
  def stampChunk(dir: String, chunkIdx: Int): Unit = {
    val t = java.nio.file.attribute.FileTime
      .fromMillis(ChunkEpochMs + chunkIdx * 2000L)
    val files = new java.io.File(dir).listFiles()
    if (files != null) files
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".") &&
        f.lastModified > ChunkEpochMs + 86400000L)
      .foreach(f => Files.setLastModifiedTime(f.toPath, t))
  }

  /** `recentProgress` of the most recent run, captured BEFORE the query
    * stops (stop clears it). Read by [[graft.StreamScaleProbe]] for the
    * per-micro-batch state-store evidence; Nil outside a probe. */
  @volatile var lastProgress
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = Nil

  def run(
      source: DataFrame,
      build: DataFrame => DataFrame,
      outputMode: String,
      flushes: Seq[DataFrame] = Nil): DataFrame = {
    val spark = source.sparkSession
    // SPARK_GRAFT_STREAM_CHUNKS > 1 switches the staging write to N
    // event-time-ordered single-file chunks consumed one per micro-batch
    // (maxFilesPerTrigger = 1) — the shape that lets the watermark
    // advance BETWEEN batches so state eviction is observable. No row
    // ever arrives behind the watermark (chunks are range-partitioned on
    // the first timestamp column, so a row in chunk i+1 is >= every ts
    // in chunk i and the watermark trails max(ts) by the pipeline's
    // delay): APPEND-mode results are therefore unchanged. UPDATE-mode
    // pipelines re-emit a key's row on every batch that touches it, so
    // the memory sink accumulates per-batch updates — a PROBE-ONLY
    // shape (StreamScaleProbe measured stream_ewma at 236k sink rows
    // for 15k final keys at 16 chunks); the certification path stays
    // unchunked. Sources without a timestamp column fall back to the
    // single-write path.
    val chunks = sys.props.get("graft.stream.chunks")
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_CHUNKS"))
      .map(_.toInt).filter(_ > 1).getOrElse(0)
    val rootPath = Files.createTempDirectory("graft-stream")
    val name = s"graft_stream_sink_${seq.incrementAndGet()}"
    // Two confs scoped to the run, restored however it ends:
    //  - transformWithState (ewma, running totals, timer sessions)
    //    requires the RocksDB state store; the default
    //    HDFSBackedStateStoreProvider rejects its multiple column
    //    families. The other state machines also run fine on RocksDB.
    //  - The state-store partition count is fixed per CHECKPOINT at first
    //    run; this harness creates a fresh checkpoint every call, so the
    //    shuffle width goes down for the run: 32 RocksDB instances per
    //    stateful operator over a staged sub-GB table is pure
    //    per-instance overhead (~3x the wall time of the same pipeline
    //    at 4). Results are partition-count-independent.
    try StreamingOps.withConfs(spark,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.shuffle.partitions" -> "4") {
      val root = rootPath.toString
      val in = s"$root/in"
      val tsCol = source.schema.fields
        .find(_.dataType == org.apache.spark.sql.types.TimestampType)
        .map(_.name)
      val chunked = chunks > 1 && tsCol.isDefined
      if (chunked) {
        val c = tsCol.get
        // range boundaries from an approximate quantile sketch on epoch
        // micros — distributed, no global sort of the staged table
        val micros = source.select(
          org.apache.spark.sql.functions.expr(s"unix_micros(`$c`)")
            .cast("double").as("m"))
        val probs = (1 until chunks).map(_.toDouble / chunks).toArray
        val bounds = micros.stat.approxQuantile("m", probs, 0.01)
          .map(_.toLong).distinct.sorted
        val staged = source.persist()
        try {
          staged.count()
          val edges = ((Long.MinValue +: bounds) :+ Long.MaxValue).toSeq
          edges.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
            staged
              .where(org.apache.spark.sql.functions.expr(s"unix_micros(`$c`)")
                .between(lo, hi - 1))
              .coalesce(1)
              .write.mode(if (i == 0) "overwrite" else "append").parquet(in)
            stampChunk(in, i) // distinct mtimes => deterministic batch order
          }
        } finally staged.unpersist()
      } else {
        source.write.mode("overwrite").parquet(in)
      }
      val reader = spark.readStream.schema(source.schema)
      val stream = (if (chunked) reader.option("maxFilesPerTrigger", "1")
                    else reader).parquet(in)
      val q = StreamingOps.start(spark, build(stream).writeStream
        .format("memory").queryName(name).outputMode(outputMode)
        .option("checkpointLocation", s"$root/ckpt"))
      try {
        q.processAllAvailable()
        flushes.foreach { f =>
          f.write.mode("append").parquet(in)
          q.processAllAvailable()
        }
        lastProgress = q.recentProgress.toSeq
      } finally q.stop()
    } finally {
      // The memory sink holds the committed result rows in the driver;
      // the staged input copy + RocksDB checkpoint (a full source-table
      // footprint per query) are dead weight once the query stops or the
      // run fails — delete, or certification runs accumulate them in tmp.
      try {
        import scala.jdk.CollectionConverters._
        Files.walk(rootPath).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
      } catch { case _: java.io.IOException => () }
    }
    spark.table(name)
  }
}
