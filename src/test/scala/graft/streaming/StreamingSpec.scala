package graft.streaming

import graft.{SparkSpec, Tables}
import graft.streaming.StreamingOps.Event
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming duals verified against their batch counterparts with a
  * MemoryStream source: identical transform, identical answer. Watermark
  * flushing needs two extra micro-batches (watermark is computed at batch
  * end; closed windows/timeouts emit in the following batch).
  */
object StreamingSpec {
  case class Doc(doc_id: Long, ts: Timestamp, text: String)
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(min: Long) = new Timestamp(min * 60000L)
  private val flushA = Event(9001L, ts(10000), 999L, "flush", 0.0)
  private val flushB = Event(9002L, ts(10001), 999L, "flush", 0.0)

  /** The idempotent micro-batch parquet sink the crash-resume cases
    * write through: each batch overwrites only its own `_batch_id`
    * partition, so a batch replayed after a kill replaces its rows. */
  private def batchIdParquetSink(df: DataFrame, path: String, partitionCol: String) =
    df.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.withColumn("_batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("_batch_id", partitionCol)
          .parquet(path)
      }

  test("tumblingWindowStats: append-mode stream output equals the batch transform") {
    val events = Seq(
      Event(1, ts(1), 1, "view", 1.0),
      Event(2, ts(2), 1, "click", 2.0),
      Event(3, ts(59), 1, "view", 10.0),
      Event(4, ts(61), 2, "view", 3.0),
      Event(5, ts(62), 2, "view", 4.0))

    val in = MemoryStream[Event]
    val q = StreamingOps.tumblingWindowStats(in.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("twin").outputMode("append").start()
    try {
      in.addData(events: _*); q.processAllAvailable()
      in.addData(flushA); q.processAllAvailable()
      in.addData(flushB); q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("twin").where(col("event_type") =!= "flush")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = StreamingOps.tumblingWindowStats(events.toDF(), "1 hour", "10 minutes")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    got shouldBe want
    want should not be empty
  }

  test("sessionize: gap-closed sessions emitted on event-time timeout") {
    val gapMs = 30L * 60000
    val events = Seq(
      Event(1, ts(1), 1, "view", 1.0),
      Event(2, ts(10), 1, "click", 2.0),   // same session (gap 9 min)
      Event(3, ts(100), 1, "view", 4.0),   // new session (gap 90 min)
      Event(4, ts(5), 2, "view", 8.0))

    val in = MemoryStream[Event]
    val sessions = StreamingOps.sessionize(in.toDF().as[Event], gapMs)
    val q = sessions.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      in.addData(events: _*); q.processAllAvailable()
      in.addData(flushA); q.processAllAvailable()
      in.addData(flushB); q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("sess").where(col("user_id") < 999)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
      .toSet
    got shouldBe Set(
      (1L, ts(1), ts(10), 2L, 3.0),
      (1L, ts(100), ts(100), 1L, 4.0),
      (2L, ts(5), ts(5), 1L, 8.0))
  }

  test("sessionize: admissible late event merges without moving the session end back") {
    val gapMs = 30L * 60000
    val in = MemoryStream[Event]
    // lateness 60 min: the t=5 event in batch 2 is admissible after
    // batch 1's max (t=20) and must merge into [1, 20] — the buggy
    // end=t would re-arm the timeout at 5+gap and fragment the session
    val sessions = StreamingOps.sessionize(in.toDF().as[Event], gapMs,
      lateness = "60 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    try {
      in.addData(Event(1, ts(1), 1, "view", 1.0),
        Event(2, ts(20), 1, "view", 2.0)); q.processAllAvailable()
      in.addData(Event(3, ts(5), 1, "view", 4.0)); q.processAllAvailable()
      in.addData(flushA); q.processAllAvailable()
      in.addData(flushB); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_late").where(col("user_id") < 999)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    got shouldBe Set((1L, ts(1), ts(20), 3L, 7.0))
  }

  test("sessionize: late event before session start extends start backward") {
    val gapMs = 30L * 60000
    val in = MemoryStream[Event]
    // batch 1 opens [10, 20]; batch 2's admissible t=0 event is within
    // gap of start and must extend the session to [0, 20] — the buggy
    // start=s.start absorbed it with duration misreported
    val sessions = StreamingOps.sessionize(in.toDF().as[Event], gapMs,
      lateness = "120 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_prestart")
      .outputMode("append").start()
    try {
      in.addData(Event(1, ts(10), 1, "view", 1.0),
        Event(2, ts(20), 1, "view", 2.0)); q.processAllAvailable()
      in.addData(Event(3, ts(2), 1, "view", 4.0)); q.processAllAvailable()
      in.addData(flushA); q.processAllAvailable()
      in.addData(flushB); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_prestart").where(col("user_id") < 999)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    got shouldBe Set((1L, ts(2), ts(20), 3L, 7.0))
  }

  test("sessionize: late events > gap before session start form their own earlier session") {
    val gapMs = 30L * 60000
    val in = MemoryStream[Event]
    // batch 1 opens [100, 110]; batch 2 delivers t=5 and t=10 — both more
    // than gap before start, so they must NOT be absorbed (the buggy
    // t - s.end <= gapMs was trivially true for t < end); they merge with
    // each other into an earlier session [5, 10] emitted that batch
    val sessions = StreamingOps.sessionize(in.toDF().as[Event], gapMs,
      lateness = "600 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_preold")
      .outputMode("append").start()
    try {
      in.addData(Event(1, ts(100), 1, "view", 1.0),
        Event(2, ts(110), 1, "view", 2.0)); q.processAllAvailable()
      in.addData(Event(3, ts(5), 1, "view", 4.0),
        Event(4, ts(10), 1, "view", 8.0)); q.processAllAvailable()
      in.addData(flushA); q.processAllAvailable()
      in.addData(flushB); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_preold").where(col("user_id") < 999)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    got shouldBe Set(
      (1L, ts(5), ts(10), 2L, 12.0),
      (1L, ts(100), ts(110), 2L, 3.0))
  }

  test("sessionize: pre-start event rejoined when a later merge extends start back over it") {
    val gapMs = 30L * 60000
    val in = MemoryStream[Event]
    // batch 1 opens [100, 110]; batch 2 delivers t=69 then t=71 in event
    // order. t=69 is > gap before the OLD start (100) and routes to a
    // pre-session, but t=71 then merges and extends start back to 71 —
    // leaving t=69 within gap of the session. The batch dual yields ONE
    // session [69, 110]; emitting [69, 69] separately would violate the
    // "emitted sessions are > gap apart" invariant.
    val sessions = StreamingOps.sessionize(in.toDF().as[Event], gapMs,
      lateness = "600 minutes")
    val q = sessions.writeStream.format("memory").queryName("sess_rejoin")
      .outputMode("append").start()
    try {
      in.addData(Event(1, ts(100), 1, "view", 1.0),
        Event(2, ts(110), 1, "view", 2.0)); q.processAllAvailable()
      in.addData(Event(3, ts(69), 1, "view", 4.0),
        Event(4, ts(71), 1, "view", 8.0)); q.processAllAvailable()
      in.addData(flushA); q.processAllAvailable()
      in.addData(flushB); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_rejoin").where(col("user_id") < 999)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    got shouldBe Set((1L, ts(69), ts(110), 4L, 15.0))
  }

  test("stream-stream join: same output as the batch range join") {
    val clicks = Seq(
      Event(1, ts(10), 1, "click", 0.0),
      Event(2, ts(50), 1, "click", 0.0),
      Event(3, ts(10), 2, "click", 0.0))
    val purchases = Seq(
      Event(11, ts(30), 1, "purchase", 5.0),  // joins click 1 (20m) and NOT click 2
      Event(12, ts(80), 1, "purchase", 7.0),  // joins clicks 1 (70m? no: >60m) -> only click 2
      Event(13, ts(200), 2, "purchase", 9.0)) // 190m after click 3 -> no join

    val cIn = MemoryStream[Event]
    val pIn = MemoryStream[Event]
    val q = StreamingOps.clickPurchaseJoin(cIn.toDF(), pIn.toDF(), "1 hour", "0 seconds")
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      cIn.addData(clicks: _*); pIn.addData(purchases: _*); q.processAllAvailable()
      cIn.addData(flushA); pIn.addData(flushA.copy(event_type = "purchase")); q.processAllAvailable()
      cIn.addData(flushB); pIn.addData(flushB.copy(event_type = "purchase")); q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("ssj").where(col("user_id") < 999)
      .select("click_event_id", "p_ts", "purchase_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSet
    val want = StreamingOps.clickPurchaseJoin(
        clicks.toDF(), purchases.toDF(), "1 hour", "0 seconds")
      .select("click_event_id", "p_ts", "purchase_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSet
    got shouldBe want
    want shouldBe Set((1L, ts(30), 5.0), (2L, ts(80), 7.0))
  }

  test("streamingContentDedup: case/whitespace duplicate docs collapse to first arrival") {
    import StreamingSpec.Doc
    val in = MemoryStream[Doc]
    val q = StreamingOps.streamingContentDedup(in.toDF(), "1 hour")
      .writeStream.format("memory").queryName("cdedup").outputMode("append").start()
    try {
      in.addData(
        Doc(1, ts(1), "Hello  World"),
        Doc(2, ts(2), "hello world"),   // same normalized content
        Doc(3, ts(3), "different doc"))
      q.processAllAvailable()
      in.addData(Doc(4, ts(4), "HELLO\tWORLD")) // dup again, later batch
      q.processAllAvailable()
    } finally q.stop()
    spark.table("cdedup").select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 3L)
  }

  test("enrichWithDim: stream-static broadcast join attaches dim attributes") {
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[Event]
    val q = StreamingOps.enrichWithDim(in.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      in.addData(
        Event(1, ts(1), 1, "view", 1.0),
        Event(2, ts(2), 2, "view", 2.0),
        Event(3, ts(3), 3, "view", 3.0)) // user 3 not in dim -> null tier
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("enriched")
      .select(col("event_id"), col("tier")).as[(Long, Option[String])]
      .collect().toMap
    got shouldBe Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None)
  }

  test("streamingSuffStats: incremental state equals the batch suffstats pass") {
    val events = Seq(
      Event(1, ts(1), 1, "view", 2.0), Event(2, ts(2), 1, "view", 4.0),
      Event(3, ts(3), 2, "click", 1.0), Event(4, ts(4), 2, "view", 6.0),
      Event(5, ts(5), 3, "click", 3.0))
    val in = MemoryStream[Event]
    val q = StreamingOps.streamingSuffStats(in.toDF())
      .writeStream.format("memory").queryName("suffstats")
      .outputMode("update").start()
    try {
      in.addData(events.take(2): _*); q.processAllAvailable()
      in.addData(events.drop(2): _*); q.processAllAvailable()
    } finally q.stop()
    // final emission per key = the one with the largest n (state n is
    // nondecreasing across micro-batches) == batch agg over everything
    val got = spark.table("suffstats")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("n").desc)))
      .where(col("rn") === 1).drop("rn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(4), r.getDouble(5))).toSet
    val want = StreamingOps.streamingSuffStats(events.toDF())
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(4), r.getDouble(5))).toSet
    got shouldBe want
    want.map(_._1) shouldBe Set("view", "click")
  }

  test("crash-resume: killed query restarts from its RocksDB checkpoint with state restored; sink stays exactly-once") {
    // The production recovery path: a stateful query dies mid-flight and
    // is restarted against the SAME checkpoint. Three claims, each load-
    // bearing at 100 TB:
    //  1. offsets resume (no input reprocessed from scratch),
    //  2. RocksDB dedup state is RESTORED (a duplicate id whose first
    //     arrival was before the kill must still be dropped after it),
    //  3. the foreachBatch parquet sink is exactly-once across the
    //     kill/replay boundary (a half-written batch is overwritten by
    //     its replay, never duplicated).
    // The kill is q.stop() with undrained input — it interrupts the
    // stream thread wherever it happens to be (possibly mid-batch); the
    // assertions hold for ANY kill point, which is the actual contract.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val base = java.nio.file.Files.createTempDirectory("graft-resume").toString
      def mkEvents(ids: Range) =
        ids.map(i => Event(i.toLong, ts(i.toLong), (i % 3).toLong, "view", i.toDouble))
      val f1 = mkEvents(1 to 10)
      val f2 = mkEvents(5 to 12) // 5..10 duplicate f1 across the kill boundary
      val f3 = mkEvents(1 to 15) // 1..12 duplicates, 13..15 new
      val allDistinct = (1L to 15L).toArray

      def runPipeline(inDir: String, outDir: String, ckpt: String) = {
        val stream = spark.readStream.schema(f1.toDF().schema)
          .option("maxFilesPerTrigger", "1") // force multiple micro-batches
          .parquet(inDir)
        val deduped = stream.withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
        batchIdParquetSink(deduped, outDir, "event_type")
          .option("checkpointLocation", ckpt)
          .start()
      }

      // interrupted run: drain f1, land f2+f3, kill WITHOUT draining
      val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
      f1.toDF().write.mode("append").parquet(inDir)
      val q1 = runPipeline(inDir, outDir, ckpt)
      q1.processAllAvailable()
      f2.toDF().write.mode("append").parquet(inDir)
      f3.toDF().write.mode("append").parquet(inDir)
      q1.stop()
      // restart from the SAME checkpoint; drain everything left
      val q2 = runPipeline(inDir, outDir, ckpt)
      q2.processAllAvailable()
      q2.stop()
      val got = spark.read.parquet(outDir).select("event_id").as[Long].collect()
      // every distinct id EXACTLY once: state restoration (5..10 seen
      // pre-kill, re-sent post-kill, still dropped) AND sink exactly-once
      // (no batch emitted twice) in one assertion
      got.sorted shouldBe allDistinct
      // batch ids continue past the pre-kill high-water mark — the
      // restart RESUMED the offset log rather than starting a new query
      val batchIds = spark.read.parquet(outDir).select("_batch_id")
        .as[Long].collect().distinct
      batchIds.max should be >= 1L

      // uninterrupted reference over the same three files: same answer
      val (inR, outR, ckptR) = (s"$base/in_ref", s"$base/out_ref", s"$base/ckpt_ref")
      f1.toDF().write.mode("append").parquet(inR)
      f2.toDF().write.mode("append").parquet(inR)
      f3.toDF().write.mode("append").parquet(inR)
      val qr = runPipeline(inR, outR, ckptR)
      qr.processAllAvailable()
      qr.stop()
      val ref = spark.read.parquet(outR).select("event_id").as[Long].collect()
      got.sorted shouldBe ref.sorted
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  test("crash-resume: stream-stream JOIN state survives the restart (pre-kill clicks join post-kill purchases)") {
    // The join-state half of the recovery contract: clickPurchaseJoin
    // buffers unmatched rows in the state store until the watermark
    // evicts them. A click that arrived BEFORE the kill must still join
    // a purchase that arrives only AFTER the restart — that join can
    // only come from RESTORED RocksDB join state, not from reprocessing
    // (offsets resume past the click's file). Sink exactly-once across
    // the boundary rides the same batch-id-partitioned parquet sink.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val base = java.nio.file.Files.createTempDirectory("graft-ssj-resume").toString
      // f1: clicks only (users 1..3). f2: their purchases 40 min later
      // (inside the 1 h horizon) + one user-4 purchase with no click.
      val f1 = Seq(
        Event(1, ts(10), 1, "click", 0.0),
        Event(2, ts(20), 2, "click", 0.0),
        Event(3, ts(30), 3, "click", 0.0))
      val f2 = Seq(
        Event(11, ts(50), 1, "purchase", 5.0),
        Event(12, ts(60), 2, "purchase", 6.0),
        Event(13, ts(70), 3, "purchase", 7.0),
        Event(14, ts(70), 4, "purchase", 8.0))
      // f3: watermark pushers on both sides so all matches flush
      val f3 = Seq(flushA, flushA.copy(event_type = "purchase"))

      def runPipeline(inDir: String, outDir: String, ckpt: String) = {
        val stream = spark.readStream.schema(f1.toDF().schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(inDir)
        val joined = StreamingOps.clickPurchaseJoin(
          stream.where(col("event_type") === "click"),
          stream.where(col("event_type") === "purchase"),
          window = "1 hour", lateness = "1 hour")
        batchIdParquetSink(joined, outDir, "user_id")
          .option("checkpointLocation", ckpt)
          .start()
      }

      val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
      f1.toDF().write.mode("append").parquet(inDir)
      val q1 = runPipeline(inDir, outDir, ckpt)
      q1.processAllAvailable() // clicks are buffered join state now
      q1.stop()                // kill before any purchase is seen
      f2.toDF().write.mode("append").parquet(inDir)
      f3.toDF().write.mode("append").parquet(inDir)
      val q2 = runPipeline(inDir, outDir, ckpt)
      q2.processAllAvailable()
      q2.stop()
      val got = spark.read.parquet(outDir)
        .where(col("user_id") < 999)
        .select("click_event_id", "p_event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // every pre-kill click joined its post-restart purchase exactly
      // once; the clickless user-4 purchase produced nothing
      got shouldBe Set((1L, 11L), (2L, 12L), (3L, 13L))

      // uninterrupted reference over the same files: identical output
      val (inR, outR, ckptR) = (s"$base/in_ref", s"$base/out_ref", s"$base/ckpt_ref")
      Seq(f1, f2, f3).foreach(_.toDF().write.mode("append").parquet(inR))
      val qr = runPipeline(inR, outR, ckptR)
      qr.processAllAvailable()
      qr.stop()
      val ref = spark.read.parquet(outR).where(col("user_id") < 999)
        .select("click_event_id", "p_event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got shouldBe ref
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  test("Trigger.AvailableNow: incremental file backfill, only new files on rerun") {
    // The production backfill pattern at 100 TB: a scheduled job drains
    // whatever landed since the last run and exits — streaming-engine
    // bookkeeping (checkpointed file offsets), batch-job lifecycle.
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft-avnow").toString
    val (inDir, outDir, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    val schema = Tables.orders(spark, sf).schema

    Tables.orders(spark, sf).where(col("o_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(inDir)
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).parquet(inDir)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination() // AvailableNow self-terminates when drained
    }
    drain()
    val afterFirst = spark.read.parquet(outDir).count()
    afterFirst shouldBe Tables.orders(spark, sf).where(col("o_orderkey") % 2 === 0).count()

    // more files land; the rerun must process ONLY the delta
    Tables.orders(spark, sf).where(col("o_orderkey") % 2 === 1)
      .write.mode("append").parquet(inDir)
    drain()
    spark.read.parquet(outDir).count() shouldBe Tables.orders(spark, sf).count()
    spark.read.parquet(outDir).select("o_orderkey").distinct().count() shouldBe
      Tables.orders(spark, sf).count()
  }

  test("streamingEwma: O(1)-state stream fold equals the batch collect+fold, across batches") {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val b1 = Seq(
        Event(1, ts(1), 1, "view", 3.7), Event(2, ts(2), 1, "view", 1.3),
        Event(3, ts(3), 2, "view", 10.1))
      val b2 = Seq(
        Event(4, ts(4), 1, "view", 2.9), Event(5, ts(5), 2, "view", 0.7))
      val in = MemoryStream[Event]
      val q = StreamingOps.streamingEwma(in.toDS(), alpha = 0.125)
        .writeStream.format("memory").queryName("ewmastate")
        .outputMode("update").start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("ewmastate")
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("ewma"))).as("m"))
        .select(col("user_id"), col("m.n_events"), col("m.ewma"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      // batch reference: the events_ewma expression shape on the full set
      val sorted = array_sort(collect_list(struct(col("ts"), col("event_id"), col("value"))))
      val want = (b1 ++ b2).toDF()
        .groupBy(col("user_id"))
        .agg(transform(sorted, x => x.getField("value")).as("vals"))
        .select(col("user_id"),
          org.apache.spark.sql.functions.size(col("vals")).cast("long").as("n"),
          aggregate(
            slice(col("vals"), lit(2),
              greatest(org.apache.spark.sql.functions.size(col("vals")) - 1, lit(0))),
            element_at(col("vals"), 1),
            (acc, x) => graft.util.Det.fixed(acc * lit(0.875) + x * lit(0.125), 9)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      got shouldBe want
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streamingTopK: complete-mode heap aggregate equals the batch top-k across batches") {
    // the window row_number formulation is ILLEGAL on a stream; the
    // bounded-heap AGGREGATE streams naturally — this is the point
    val b1 = Seq(
      Event(1, ts(1), 1, "view", 5.0), Event(2, ts(2), 1, "view", 9.0),
      Event(3, ts(3), 2, "click", 7.0))
    val b2 = Seq(
      Event(4, ts(4), 1, "view", 8.0), Event(5, ts(5), 2, "view", 1.0),
      Event(6, ts(6), 1, "click", 6.0))
    val in = MemoryStream[Event]
    val q = StreamingOps.streamingTopK(in.toDF(), k = 2)
      .writeStream.format("memory").queryName("topkstream")
      .outputMode("complete").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("topkstream")
      .select(col("event_type"), col("top"))
      .collect().map { r =>
        r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(t => (t.getDouble(0), t.getLong(1)))
      }.toMap
    val want = (b1 ++ b2).groupBy(_.event_type).map { case (et, es) =>
      et -> es.map(e => (e.value, e.event_id))
        .sortBy { case (v, id) => (-v, -id) }.take(2)
    }
    got shouldBe want
  }

  test("streamingDriftMonitor: append-mode stream output equals the batch transform") {
    // reference = uniform over 4 bins on [0, 8); second window drifts high
    val ref = Seq(0.25, 0.25, 0.25, 0.25)
    val events = Seq(
      Event(1, ts(1), 1, "view", 0.5), Event(2, ts(2), 1, "view", 2.5),
      Event(3, ts(3), 2, "view", 4.5), Event(4, ts(4), 2, "view", 6.5),
      Event(5, ts(61), 1, "view", 7.5), Event(6, ts(62), 2, "view", 7.9),
      Event(7, ts(63), 1, "view", 7.0), Event(8, ts(64), 2, "view", 9.9)) // 9.9 clamps to top bin

    val in = MemoryStream[Event]
    val q = StreamingOps.streamingDriftMonitor(in.toDF(), ref, 0.0, 8.0, "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("drift").outputMode("append").start()
    try {
      in.addData(events: _*); q.processAllAvailable()
      in.addData(flushA); q.processAllAvailable()
      in.addData(flushB); q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("drift")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      .filter(_._2 > 2) // drop the flush-sentinel window
      .toSet
    val want = StreamingOps.streamingDriftMonitor(events.toDF(), ref, 0.0, 8.0, "1 hour", "10 minutes")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet
    got shouldBe want
    want should have size 2
    // the balanced first window scores (near) minimal PSI; the drifted
    // second window scores strictly higher
    val byStart = want.toSeq.sortBy(_._1.getTime).map(_._3)
    byStart(1) should be > byStart(0)
    byStart(0) should be < 0.2
  }
}
