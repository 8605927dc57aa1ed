package graft.util

import java.nio.file.Files

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Curation

class StageSpec extends SparkSpec {
  import spark.implicits._

  private def edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
    (20L, 21L), (21L, 22L), (4L, 5L)).toDF("a", "b")
  private def nodes = (1L to 5L).union(Seq(10L, 11L, 20L, 21L, 22L)).toDF("node")

  private def ccLabels(): Seq[(Long, Long)] =
    Curation.connectedComponentsStar(edges, nodes)
      .select(col("node"), col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  /** `connectedComponents`' labels (a `stageCheckpoint` caller: its edge
    * table, initial labels and every iterate), with the jobs it ran. */
  private def ccWithJobs(): (Seq[(Long, Long)], Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val labels = Curation.connectedComponents(edges, nodes)
        .select(col("node"), col("cluster_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      ListenerBusDrain(sc)
      (labels, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("stageCheckpoint: same rows and the same jobs in both checkpoint modes") {
    spark.conf.unset(Stage.ConfKey)
    val (viaLocal, localJobs) = ccWithJobs()
    val dir = Files.createTempDirectory("graft-stage-jobs").toString
    val (viaReliable, reliableJobs) =
      try { spark.conf.set(Stage.ConfKey, dir); ccWithJobs() }
      finally spark.conf.unset(Stage.ConfKey)
    viaReliable shouldBe viaLocal
    viaLocal.map(_._2).distinct.size shouldBe 3
    // the counts `stageCheckpoint` ran as an eager Dataset.checkpoint
    localJobs shouldBe 45
    reliableJobs shouldBe 45
  }

  test("Stage: the eager checkpoint is one job past the plan's own, in both modes") {
    def jobsOf(f: => Unit): Int = {
      val sc = spark.sparkContext
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      ListenerBusDrain(sc)
      sc.addSparkListener(l)
      try { f; ListenerBusDrain(sc); jobs.get } finally sc.removeSparkListener(l)
    }
    // the aggregate's shuffle stage, then the checkpoint write
    def staged() = Stage(spark.range(100).groupBy(col("id") % 7).count())
    spark.conf.unset(Stage.ConfKey)
    jobsOf(staged()) shouldBe 2
    val dir = Files.createTempDirectory("graft-stage-eager").toString
    try { spark.conf.set(Stage.ConfKey, dir); jobsOf(staged()) shouldBe 2 }
    finally spark.conf.unset(Stage.ConfKey)
  }

  test("Stage: reliable-checkpoint mode returns identical results to localCheckpoint") {
    spark.conf.unset(Stage.ConfKey)
    val viaLocal = ccLabels()
    val dir = Files.createTempDirectory("graft-stage-ckpt").toString
    try {
      spark.conf.set(Stage.ConfKey, dir)
      val viaReliable = ccLabels()
      viaReliable shouldBe viaLocal
      viaLocal.map(_._2).distinct.size shouldBe 3 // sanity: 3 components
      // the reliable path actually wrote checkpoint data
      val wrote = new java.io.File(new java.net.URI(
        spark.sparkContext.getCheckpointDir.get)).listFiles()
      wrote should not be empty
    } finally spark.conf.unset(Stage.ConfKey)
  }
}
