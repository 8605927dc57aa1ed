package graft.streaming

import java.io.File

import org.apache.spark.metrics.source.CodegenMetrics

import graft.{SparkSpec, Tables}
import graft.queries.StreamQueries

/** How the engine starts a stream: a second start of the same pipeline
  * reuses the generated code of the first, and the harness's confs and
  * staged input do not outlive a failed run. */
class StreamStartSpec extends SparkSpec {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ShuffleKey = "spark.sql.shuffle.partitions"

  private def stagedDirs: Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles)
      .toSeq.flatten.map(_.getName).filter(_.startsWith("graft-stream")).toSet

  test("StreamHarness.run: a build that throws leaves both confs as they " +
      "were and removes its staged input") {
    val saved = Seq(ProviderKey, ShuffleKey).map(k => k -> spark.conf.getAll.get(k))
    spark.conf.unset(ProviderKey)
    spark.conf.set(ShuffleKey, "7")
    try {
      val dirsBefore = stagedDirs
      val boom = intercept[RuntimeException] {
        StreamHarness.run(Tables.events(spark, sf),
          _ => throw new RuntimeException("boom-in-build"), "append")
      }
      boom.getMessage shouldBe "boom-in-build"
      spark.conf.getAll.get(ProviderKey) shouldBe None
      spark.conf.get(ShuffleKey) shouldBe "7"
      stagedDirs shouldBe dirsBefore
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // One StreamHarness shape (file stream, watermark flushes, memory sink)
  // and the foreachBatch ingest, each run twice on the same fixture.
  for (name <- Seq("stream_window_stats", "stream_ann_ingest"))
    test(s"$name: the second run compiles no generated class and " +
        "returns the same rows") {
      val q = StreamQueries.defs.find(_.name == name).get
      val first = q.fn(spark, sf01).collect().toSeq
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val second = q.fn(spark, sf01).collect().toSeq
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled shouldBe 0L
      second shouldBe first
    }
}
