package graft.util

import org.apache.spark.sql.{Dataset, GraftBridge}

/** Lineage truncation for iterative operators (CC, pagerank, k-means,
  * BPE merge rounds, …) with a cluster-durability knob.
  *
  * `localCheckpoint` pins the truncated lineage to EXECUTOR block
  * storage: the right latency choice on a single JVM (no extra write
  * path), but on a real cluster an executor loss mid-iteration makes the
  * checkpointed partitions unrecoverable and kills the job. At the
  * 100 TB design point the iteration state must survive executor churn,
  * so every staging site goes through here:
  *
  *  - `spark.graft.checkpointDir` unset (default): `localCheckpoint()` —
  *    today's single-JVM behavior, zero extra I/O;
  *  - `spark.graft.checkpointDir=<fault-tolerant path>`: reliable
  *    `checkpoint()` to that directory (HDFS/object store on a cluster),
  *    recomputable after any executor loss.
  *
  * `mark` holds that switch once; [[checkpointWith]] fuses it with the
  * caller's first action and [[apply]] writes it at once. The caller's
  * contract — "this frame is materialized once and every downstream
  * branch reuses it" — is identical in both modes;
  * StageSpec asserts equal results and pins each mode's job count.
  *
  * Checkpoint-file lifecycle: Spark deletes a reliable checkpoint's
  * files when its RDD is GC'd ONLY under
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
  * false — files persist until the app exits). A long-running cluster
  * job staging dozens of iterations should set that conf at submit
  * time so superseded iteration snapshots are reclaimed; reference
  * tracking (not blind deletion) keeps any frame still in use safe.
  * See SCALING.md.
  */
object Stage {
  val ConfKey = "spark.graft.checkpointDir"

  /** An EAGER checkpoint: the lazy mark of [[checkpointWith]], written
    * at once in the one job `Dataset.checkpoint(eager = true)` runs in
    * either mode. That job computes the frame and writes it, so nothing
    * is cached around it. A counting action would cost a job more in
    * reliable mode (the count, then the write) and, as `count()`, can
    * add an AQE stage job. */
  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val c = mark(ds)
    GraftBridge.checkpointNow(c)
    c
  }

  /** A LAZY checkpoint fused with the caller's first action: the
    * materializing job IS `action`'s own, so an iterative loop that
    * truncates lineage AND needs something off the iterate — the CC
    * fixpoint check's count (`checkpointWith(ds)(_.count())`), the IVF
    * delta path's DISTINCT PROBED-CELL collect — pays ONE job per
    * iteration instead of an eager-checkpoint job plus the action's job
    * over the same blocks. Both modes truncate identically: local
    * checkpoints persist partitions as the action's job computes them;
    * reliable checkpoints write after that job completes (Spark's
    * standard lazy-checkpoint contract). The action MUST compute every
    * partition of `ds` (counts, aggregations and collects over it do; a
    * LIMIT would not). Returns the truncated frame and the action's
    * result. */
  def checkpointWith[T, A](ds: Dataset[T])(
      action: Dataset[T] => A): (Dataset[T], A) =
    if (reliableDir(ds).isEmpty) { val c = mark(ds); (c, action(c)) }
    else {
      // A lazy reliable checkpoint runs TWO jobs: the action, then the
      // checkpoint-file write — each recomputing the plan unless it is
      // cached. Cache across the pair so the frame is computed once (the
      // write job reads cache blocks), then release: downstream reads
      // come from the checkpoint files, not the cache.
      ds.persist()
      try { val c = mark(ds); (c, action(c)) }
      finally ds.unpersist()
    }

  private def reliableDir(ds: Dataset[_]): Option[String] =
    ds.sparkSession.conf.getOption(ConfKey).filter(_.nonEmpty)

  /** The lazy checkpoint of `ds` in the configured mode. */
  private def mark[T](ds: Dataset[T]): Dataset[T] = reliableDir(ds) match {
    case Some(dir) =>
      // setCheckpointDir materializes a UUID subdir under `dir`; set it
      // once per context (first staged frame wins — the knob is meant
      // to be fixed for a job, not varied mid-query)
      val sc = ds.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
      ds.checkpoint(eager = false)
    case None => ds.localCheckpoint(eager = false)
  }

  /** Share a multi-consumer frame WITHIN one query's DAG: lazy
    * `persist()`, so the expensive derivation (a tokenize/shingle
    * explode, a corpus aggregation) is computed once by the first
    * consumer and read from block storage by the rest — Catalyst does
    * not share duplicated subtrees across plan branches, so without
    * this each consumer re-derives the frame from the scan.
    *
    * Versus [[apply]] (stageCheckpoint): no eager action, no lineage
    * truncation — the right trade for SHALLOW dags consumed a handful
    * of times inside one query (an eager checkpoint is an extra
    * scheduler round-trip plus a mandatory block write even when the
    * first consumer could have pipelined). Iterative loops keep
    * `stageCheckpoint`, which they need for the lineage cut. Callers
    * that run the query as a standalone job can rely on job teardown
    * (or `clearCache`) to release the blocks; long-lived sessions
    * should `unpersist` after the consuming action.
    *
    * WHEN to share — the materialization-vs-recompute rule:
    *  - share any frame whose derivation crosses a SHUFFLE or
    *    aggregation (distinct, groupBy, join): recomputing a shuffle
    *    per consumer is never right, and agg outputs are small;
    *  - share map-only derivations when they are allocation-heavy and
    *    read ≥3 times (k-gram string construction: sharing
    *    containmentPairs' 4-consumer shingle table measured −21% at
    *    sf0.1);
    *  - RECOMPUTE a cheap codegen'd explode with ~2 consumers whose
    *    output is LARGER than its source (token/bigram streams:
    *    caching bm25's token explode measured +0.3 s at sf0.1 vs
    *    re-tokenizing — the cache write+read costs more than the map). */
  def share[T](ds: Dataset[T]): Dataset[T] = ds.persist()

  /** Postfix syntax so call sites read like the built-in they replace. */
  implicit class StageOps[T](private val ds: Dataset[T]) extends AnyVal {
    def stageCheckpoint(): Dataset[T] = Stage(ds)
    def stageShare(): Dataset[T] = share(ds)
  }
}
