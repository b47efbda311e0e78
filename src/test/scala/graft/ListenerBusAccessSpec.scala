package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.graft.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Contract of the [[ListenerBusAccess]] shim: it reaches the
  * `private[spark]` Spark internals `SparkContext.listenerBus` and
  * `LiveListenerBus.waitUntilEmpty(timeoutMillis: Long)`. A Spark
  * upgrade that renames or removes either fails here, not as a silent
  * `false` (which `EtlRunner` would report as an unbalanced job and the
  * streaming bench would paper over with its counting fallback). */
class ListenerBusAccessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("the Spark internals the shim relies on exist with the expected signatures") {
    // LiveListenerBus is itself private[spark]: named by string here
    val liveBus = Class.forName("org.apache.spark.scheduler.LiveListenerBus")
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
    assert(bus.getReturnType == liveBus)
    val wait = liveBus.getMethod("waitUntilEmpty", classOf[Long])
    assert(wait.getReturnType == Void.TYPE)
  }

  test("waitUntilEmpty returns only after every posted event was dispatched") {
    val sc = spark.sparkContext
    val seen = new AtomicInteger
    // a slow listener: each TaskEnd takes 50 ms to process, so the job
    // returns long before its events are counted
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        Thread.sleep(50); seen.incrementAndGet(): Unit
      }
    }
    sc.addSparkListener(slow)
    try {
      sc.parallelize(0 until 100, 8).foreach(_ => ())
      assert(ListenerBusAccess.waitUntilEmpty(sc, 10000))
      assert(seen.get == 8)
    } finally sc.removeSparkListener(slow)
  }

  test("waitUntilEmpty reports a timeout as false instead of throwing") {
    val sc = spark.sparkContext
    val gate = new CountDownLatch(1)
    val blocked = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        gate.await(10, TimeUnit.SECONDS): Unit
    }
    sc.addSparkListener(blocked)
    try {
      sc.parallelize(0 until 10, 1).foreach(_ => ())
      assert(!ListenerBusAccess.waitUntilEmpty(sc, 100))
    } finally {
      gate.countDown()
      assert(ListenerBusAccess.waitUntilEmpty(sc, 10000))
      sc.removeSparkListener(blocked)
    }
  }
}
