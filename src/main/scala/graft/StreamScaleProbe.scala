package graft

/** Scale probe for the STREAMING surface: runs each stream_* catalog row
  * through [[graft.streaming.StreamHarness]] with chunked event-time
  * staging (SPARK_GRAFT_STREAM_CHUNKS, set here) so the watermark
  * advances between micro-batches, and prints per-batch RocksDB
  * state-store metrics — the evidence that watermark eviction keeps
  * state BOUNDED while input grows (the 10×-decade question the batch
  * scale artifacts answer with shuffle records).
  *
  * One JSON line per query: wall-clock, result rows, per-micro-batch
  * (inputRows, stateRows, stateMemBytes) and the peaks. `stateRows` is
  * `stateOperators.numRowsTotal` summed over operators; `stateMemBytes`
  * is `memoryUsedBytes` (for RocksDB = the provider's tracked total).
  * Hash-exactness of the same rows at the same slice is proven
  * separately by Verify + the DuckDB compare on the UNCHUNKED harness
  * path; a chunked-vs-unchunked row-count equality check runs here when
  * `SPARK_GRAFT_STREAM_CHECK=1` (doubles the run).
  *
  * Usage: StreamScaleProbe <sfDir> <chunks> [queries...]
  */
object StreamScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StreamScaleProbe <sfDir> <chunks> [queries...]")
    val sfDir = args(0)
    val chunks = args(1).toInt
    val queries =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.filter(_.startsWith("stream_")).toSeq.sorted
    val spark = GraftSession.builder(GraftSession.cpus, sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def f(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", v: java.lang.Double)
    // the harness honors the system property first (set here, no env
    // export needed at launch)
    sys.props("graft.stream.chunks") = chunks.toString
    queries.foreach { name =>
      val t0 = System.nanoTime()
      val out = SparkEntry.queries(name)(spark, sfDir)
      val rows = out.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val prog = graft.streaming.StreamHarness.lastProgress
      val batches = prog.map { p =>
        val stateRows = p.stateOperators.map(_.numRowsTotal).sum
        val stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
        (p.batchId, p.numInputRows, stateRows, stateBytes)
      }
      val peakRows = if (batches.isEmpty) 0L else batches.map(_._3).max
      val peakBytes = if (batches.isEmpty) 0L else batches.map(_._4).max
      val totalIn = batches.map(_._2).sum
      val checked =
        if (sys.env.get("SPARK_GRAFT_STREAM_CHECK").contains("1")) {
          // the unchunked twin must emit the identical row count — the
          // cheap half of chunked/unchunked parity (the hash half runs
          // through Verify + DuckDB on the unchunked path)
          sys.props.remove("graft.stream.chunks")
          val unchunked = try SparkEntry.queries(name)(spark, sfDir).count()
          finally { sys.props("graft.stream.chunks") = chunks.toString }
          s""","unchunked_rows":$unchunked,"rows_match":${unchunked == rows}"""
        } else ""
      val bj = batches.map { case (id, in, sr, sb) =>
        s"""{"batch":$id,"input_rows":$in,"state_rows":$sr,"state_bytes":$sb}"""
      }.mkString(",")
      println(s"""{"query":"$name","sf":"${sfDir.split('/').last}",""" +
        s""""chunks":$chunks,"sec":${f(sec)},"rows":$rows,""" +
        s""""input_rows":$totalIn,"peak_state_rows":$peakRows,""" +
        s""""peak_state_bytes":$peakBytes,"batches":[$bj]$checked}""")
    }
    spark.stop()
  }
}
