package enginebench

import scala.collection.mutable

import org.apache.spark.enginebench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec, InputAdapter}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId
import org.json4s.JsonAST.JObject
import org.json4s.JsonDSL._

/** Span recorder for the traced run. It attaches Spark's public listeners
  * and keeps every span in memory; `json` writes them out at the end.
  *
  * Attribution is by op id: the runner drains the listener bus at each op
  * boundary (untimed), so every event an op causes is handled while
  * `current` still names that op. Task metrics are summed per stage; no
  * span is kept per task.
  */
final class Trace(spark: SparkSession) {
  import Trace.{JobSpan, QeSpan}
  @volatile private var current: Int = -1

  private final class StageAcc(val op: Int, val id: Int) {
    var submitMs = 0L; var completeMs = 0L; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var serMs = 0L
    var peakMem = 0L; var inBytes = 0L; var inRows = 0L
    var outBytes = 0L; var outRows = 0L; var shufW = 0L; var shufR = 0L
    var fetchWaitMs = 0L; var spill = 0L
  }
  private final class CacheAcc { var peak = 0L; val blocks = mutable.Set[String]() }

  private val jobs = mutable.LinkedHashMap[Int, JobSpan]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageAcc]()
  private val qes = mutable.ArrayBuffer[QeSpan]()
  private val batches = mutable.ArrayBuffer[(Int, Long, Long)]() // op, batch ms, rows
  private val cacheByOp = mutable.LinkedHashMap[Int, CacheAcc]()
  private val codegen = mutable.LinkedHashMap[Int, (Long, Long)]() // op -> compiles, ns
  private val blockSizes = mutable.Map[String, Long]()
  private var liveCache = 0L

  // listener queues run on their own threads; every access goes through
  // this one lock (a bare `synchronized` inside an anonymous listener would
  // lock the listener instead)
  private def locked[T](f: => T): T = synchronized(f)

  private def stage(id: Int, attempt: Int): StageAcc = locked {
    stages.getOrElseUpdate((id, attempt), new StageAcc(current, id))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = JobSpan(current, e.jobId, exec, e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = locked {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.submitMs = i.submissionTime.getOrElse(0L)
      s.completeMs = i.completionTime.getOrElse(0L)
      s.tasks = i.numTasks
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      val m = e.taskMetrics
      if (m != null) {
        val s = stage(e.stageId, e.stageAttemptId)
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.serMs += m.executorDeserializeTime + m.resultSerializationTime
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRows += m.outputMetrics.recordsWritten
        s.shufW += m.shuffleWriteMetrics.bytesWritten
        s.shufR += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = locked {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case b: RDDBlockId =>
          val key = b.name
          val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
          liveCache += size - blockSizes.getOrElse(key, 0L)
          if (size > 0) blockSizes(key) = size else blockSizes.remove(key)
          if (current >= 0) {
            val c = cacheByOp.getOrElseUpdate(current, new CacheAcc)
            if (size > 0) c.blocks += key
            c.peak = math.max(c.peak, liveCache)
          }
        case _ =>
      }
    }
    override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = locked {
      val prefix = s"rdd_${e.rddId}_"
      blockSizes.keys.filter(_.startsWith(prefix)).toSeq.foreach { k =>
        liveCache -= blockSizes.remove(k).getOrElse(0L)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(func, qe)
  }

  private def record(func: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val (ops, ex, bc) = Trace.planCounts(qe.executedPlan)
    locked { qes += QeSpan(current, func, phases, ops, ex, bc) }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms: Long = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      locked { batches += ((current, ms, p.numInputRows)) }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  private var cgCount = 0L
  private var cgNs = 0L

  /** Marks the start of op `id`; call before its timer starts. */
  def begin(id: Int): Unit = {
    cgCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    cgNs = CodeGenerator.compileTime
    current = id
  }

  /** Closes op `id`; call after its timer stopped. Drains the bus so all
    * of the op's events are attributed before the next op. */
  def end(id: Int): Unit = {
    val c = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgCount
    val ns = CodeGenerator.compileTime - cgNs
    Bus.drain(spark.sparkContext)
    locked { codegen(id) = (c, ns) }
    current = -1
  }

  def json: JObject = locked {
    ("jobs" -> jobs.values.toList.map(j =>
      ("op" -> j.op) ~ ("id" -> j.id) ~ ("exec" -> j.execId) ~ ("start_ms" -> j.startMs) ~
        ("end_ms" -> j.endMs) ~ ("stages" -> j.stages))) ~
    ("stages" -> stages.values.toList.map(s =>
      ("op" -> s.op) ~ ("id" -> s.id) ~ ("submit_ms" -> s.submitMs) ~
        ("complete_ms" -> s.completeMs) ~ ("tasks" -> s.tasks) ~ ("run_ms" -> s.runMs) ~
        ("cpu_ns" -> s.cpuNs) ~ ("gc_ms" -> s.gcMs) ~ ("ser_ms" -> s.serMs) ~
        ("peak_mem" -> s.peakMem) ~ ("in_bytes" -> s.inBytes) ~ ("in_rows" -> s.inRows) ~
        ("out_bytes" -> s.outBytes) ~ ("out_rows" -> s.outRows) ~
        ("shuffle_write" -> s.shufW) ~ ("shuffle_read" -> s.shufR) ~
        ("fetch_wait_ms" -> s.fetchWaitMs) ~ ("spill" -> s.spill))) ~
    ("qes" -> qes.toList.map(q =>
      ("op" -> q.op) ~ ("func" -> q.func) ~
        ("phases" -> q.phases.map { case (k, (s, e)) => k -> List(s, e) }) ~
        ("operators" -> q.operators) ~ ("exchanges" -> q.exchanges) ~
        ("broadcasts" -> q.broadcasts))) ~
    ("batches" -> batches.toList.map { case (op, ms, rows) =>
      ("op" -> op) ~ ("ms" -> ms) ~ ("rows" -> rows) }) ~
    ("cache" -> cacheByOp.toList.map { case (op, c) =>
      ("op" -> op) ~ ("peak_bytes" -> c.peak) ~ ("blocks" -> c.blocks.size) }) ~
    ("codegen" -> codegen.toList.map { case (op, (n, ns)) =>
      ("op" -> op) ~ ("compiles" -> n) ~ ("compile_ns" -> ns) })
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  private final case class JobSpan(op: Int, id: Int, execId: Long, startMs: Long,
      var endMs: Long, stages: Seq[Int])
  private final case class QeSpan(op: Int, func: String, phases: Map[String, (Long, Long)],
      operators: Int, exchanges: Int, broadcasts: Int)

  /** (operators, shuffle exchanges, broadcast exchanges) of the final
    * plan; AQE stages and subqueries are walked, wrappers not counted. */
  def planCounts(plan: SparkPlan): (Int, Int, Int) = {
    val nodes = collectWithSubqueries(plan) {
      case p if !(p.isInstanceOf[AdaptiveSparkPlanExec] || p.isInstanceOf[QueryStageExec] ||
        p.isInstanceOf[WholeStageCodegenExec] || p.isInstanceOf[InputAdapter]) => p
    }
    val ops = nodes.size
    val ex = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    val bc = nodes.count(_.isInstanceOf[BroadcastExchangeLike])
    (ops, ex, bc)
  }
}
