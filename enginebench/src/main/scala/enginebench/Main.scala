package enginebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.enginebench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.JsonAST.{JObject, JValue}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.{Parts, SparkEntry}
import graft.gmm.EM

/** One benchmark run in one driver JVM: session start and a cold pass
  * (set-up; it also writes each catalog query's result once for the
  * oracle check), a fixed number of untimed warm passes of the timed ops,
  * then a timed window of whole passes. Writes its raw record (op spans,
  * and the trace when traced) as JSON; enginebench/run.py does all the
  * arithmetic.
  *
  * Usage: enginebench.Main key=value ... with keys workload, data, orders,
  * out, results, seconds, warm, trace, cpus, and for em_fit points, means
  * and mean_tol.
  */
object Main {
  /** `run` is the timed op; `write`, where the output is checked outside
    * the JVM, computes the same result and saves it under a directory. */
  final case class Op(run: () => OpResult, write: Option[String => Unit] = None)
  final case class OpResult(ok: Boolean, detail: JObject = JObject())

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val data = a("data")
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cpus = a("cpus").toInt
    val warm = a("warm").toInt
    val results = a("results")
    val orders = Files.readAllLines(Paths.get(a("orders"))).toArray(Array[String]())
      .toSeq.filter(_.nonEmpty).map(_.split(',').toSeq)

    val t0 = System.nanoTime()
    val epoch0 = System.currentTimeMillis().toDouble
    def nowMs: Double = epoch0 + (System.nanoTime() - t0) / 1e6

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Parts.derive(data, cpus).toString)
      .config("spark.sql.warehouse.dir", Paths.get("warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (traced) Some(new Trace(spark)) else None

    val ops: Map[String, Op] = workload match {
      case "em_fit" => Map("em_fit" -> emFitOp(spark, data, a))
      case _ =>
        orders.flatten.distinct.map { q =>
          val fn = SparkEntry.queries(q)
          q -> Op(() => {
            fn(spark, data).write.format("noop").mode("overwrite").save()
            OpResult(ok = true)
          }, Some(dir => fn(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")))
        }.toMap
    }

    val records = mutable.ArrayBuffer[JObject]()
    var nextId = 0
    var passNo = 0

    def runPass(kind: String, write: Boolean = false): Double = {
      val order = orders(passNo % orders.size)
      var sum = 0.0
      order.foreach { name =>
        val id = nextId
        nextId += 1
        trace.foreach(_.begin(id))
        val s = nowMs
        val r =
          try ops(name).write.filter(_ => write) match {
            case Some(w) => w(results); OpResult(ok = true)
            case None => ops(name).run()
          }
          catch { case e: Throwable =>
            System.err.println(s"[enginebench] $name failed: $e")
            OpResult(ok = false, "error" -> String.valueOf(e.getMessage))
          }
        val e = nowMs
        trace.foreach(_.end(id))
        sum += (e - s) / 1e3
        records += ("id" -> id) ~ ("name" -> name) ~ ("kind" -> kind) ~ ("pass" -> passNo) ~
          ("start_ms" -> s) ~ ("end_ms" -> e) ~ ("ok" -> r.ok) ~ ("detail" -> r.detail)
        // untimed between ops: drop staging caches and garbage, and let
        // the listener bus catch up, so no op pays for the previous one
        System.gc()
        spark.catalog.clearCache()
        Bus.drain(spark.sparkContext)
      }
      passNo += 1
      sum
    }

    // the cold pass writes each catalog query's result once for the oracle
    // check: a batch job writes its results, and a separate untimed write
    // pass would not fit the run's time budget
    runPass("cold", write = true)
    val setupS = (System.nanoTime() - t0) / 1e9

    // a fixed number of untimed warm passes of the timed ops
    val warmPasses = (0 until warm).map(_ => runPass("warm"))

    val emptyJob = trace.map(_ => emptyJobSeconds(spark, cpus))

    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < seconds) runPass("window")
    val windowS = (System.nanoTime() - w0) / 1e9

    // live heap: Spark's context cleaner frees broadcast and shuffle blocks
    // only after a GC has collected their handles, so collect a few times
    // with pauses and keep the smallest reading
    spark.catalog.clearCache()
    val heapMb = (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(150)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val oracle = SparkEntry.oracleSql.filter { case (q, _) => ops.contains(q) }
    val rec: JValue =
      ("workload" -> workload) ~ ("cpus" -> cpus) ~
      ("points" -> a.getOrElse("points", "0").toLong) ~ ("oracle" -> oracle) ~
      ("session_s" -> sessionS) ~ ("setup_s" -> setupS) ~ ("warm_passes" -> warmPasses) ~
      ("window_s" -> windowS) ~ ("heap_live_mb" -> heapMb) ~
      ("empty_job_s" -> emptyJob.getOrElse(Seq.empty[Double])) ~
      ("ops" -> records.toList) ~ ("trace" -> trace.map(_.json).getOrElse(JObject()))
    Files.writeString(Paths.get(a("out")), compact(render(rec)) + "\n")
    spark.stop()
  }

  /** One EM fit of the paper's shape, checked against the generator. */
  private def emFitOp(spark: SparkSession, data: String, a: Map[String, String]): Op = {
    val points: DataFrame = spark.read.parquet(s"$data/points.parquet")
    val truth = a("means").split(',').map(_.toDouble).sorted
    val tol = a("mean_tol").toDouble
    Op(() => {
      val r = EM.fit(points, "value", k = 3, maxIter = 10, tol = None,
        variant = EM.Textbook, init = EM.SpreadInit)
      val means = r.model.means.sorted
      val ok = r.iterations == 10 && !r.logLikelihood.isNaN && !r.logLikelihood.isInfinite &&
        means.zip(truth).forall { case (m, t) => math.abs(m - t) <= tol }
      OpResult(ok, ("iterations" -> r.iterations) ~ ("loglik" -> r.logLikelihood) ~
        ("means" -> means.toSeq))
    })
  }

  /** Wall seconds of jobs that do nothing, one trivial task per core:
    * the scheduling floor every job pays. */
  private def emptyJobSeconds(spark: SparkSession, cpus: Int): Seq[Double] = {
    val sc = spark.sparkContext
    (0 until 25).map { _ =>
      val s = System.nanoTime()
      sc.parallelize(0 until cpus, cpus).foreach(_ => ())
      (System.nanoTime() - s) / 1e9
    }.drop(5)
  }
}
