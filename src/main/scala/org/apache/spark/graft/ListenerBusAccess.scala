package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bounded drain of the shared async listener bus, for harnesses that
  * must observe every event of work they have ALREADY completed.
  *
  * Listener events ride `LiveListenerBus`'s async queues: when an
  * action or a stopped `StreamingQuery` returns, every one of its
  * events is POSTED yet possibly unprocessed. Counting heuristics race
  * in both directions (ADVICE r14: a still-queued started event makes
  * `0 terminated < 0 measured` read complete; and with runs started
  * sequentially, `terminated == measured` can hold while the NEXT
  * run's started event is still queued), and settle polls only guess.
  * Draining the bus is the deterministic wait: FIFO per queue means
  * "bus empty" implies every already-posted event has been dispatched.
  * Two callers: the streaming bench reads its per-run progress/phase
  * sums after the drain, and `graft.etl.EtlRunner` reads its
  * task-output row count after every `save()`, file and JDBC sinks
  * alike.
  *
  * `waitUntilEmpty` is `private[spark]` test plumbing, reached from
  * the `org.apache.spark` namespace like the repo's other shims
  * (checkpoint-dir access, avro wire codec). Returns false on timeout
  * or if the bus has already stopped; callers then read what the
  * listener has counted so far (the bench falls back to its bounded
  * counting loop, the ETL runner reports the job unbalanced). */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: Throwable => false }
}
