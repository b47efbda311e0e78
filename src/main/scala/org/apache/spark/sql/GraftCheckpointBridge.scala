package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Round-17 bridge (VERDICT r16 #6 — iterative per-round fixed cost):
  * `Dataset.checkpoint`/`localCheckpoint` with `eager = true` already
  * materializes the cut by running `internalRdd.count()` — and then
  * THROWS THE COUNT AWAY. Every convergence-checked BSP loop (k-core
  * peel, BFS frontier, min-label propagation) was paying a second
  * whole-relation job per round just to re-learn that number. This
  * bridge replicates the eager-checkpoint body (same RDD-level calls,
  * same `LogicalRDD.fromDataset` wrap, same action name for the SQL
  * tab) and returns the materializing count alongside the cut
  * DataFrame — one job per round instead of two. Value-identity with
  * cut-then-count is pinned in CkptLifecycleSpec on both backends.
  */
object GraftCheckpointBridge {

  /** Eagerly checkpoint `df` (reliable → `RDD.checkpoint` into the
    * context's checkpoint dir; local → optional persist(level) +
    * `RDD.localCheckpoint`) and return the checkpointed relation plus
    * its row count from the SAME materialization job. */
  def cutCounted(df: DataFrame, reliable: Boolean,
                 storageLevel: Option[StorageLevel]): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val actionName = if (reliable) "checkpoint" else "localCheckpoint"
    SQLExecution.withNewExecutionId(qe, Some(actionName)) {
      qe.executedPlan.resetMetrics()
      // mapPartitionsWithIndexInternal, NOT map: the public map() runs
      // the ClosureCleaner over the lambda, and the cleaner must read
      // the capturing class's bytes through the thread's context
      // classloader — which other suites/sessions in the same JVM may
      // have swapped to one that cannot see this library (observed:
      // "capturingClassReader is null" NPEs when the full test suite
      // runs suites in one JVM). The internal variant skips cleaning —
      // safe here because the closure captures nothing.
      val internalRdd: RDD[InternalRow] = qe.executedPlan.execute()
        .mapPartitionsWithIndexInternal((_, iter) => iter.map(_.copy()))
      if (reliable) {
        internalRdd.checkpoint()
      } else {
        storageLevel.foreach(sl => internalRdd.persist(sl))
        internalRdd.localCheckpoint()
      }
      val n = internalRdd.count()
      val out = classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(internalRdd, ds, isStreaming = false)
          .newInstance())
      (out, n)
    }
  }
}
