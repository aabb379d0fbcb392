package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.TaskContext

import graft.core.Par

class ParSpec extends SparkTestBase {

  test("Par.all runs more legs than cores and returns when all have finished") {
    val ran = new java.util.concurrent.atomic.AtomicInteger()
    Par.all(spark, Seq.fill(9)(() => { Thread.sleep(20); ran.incrementAndGet(); () }))
    assert(ran.get == 9)
  }

  test("Par.all: a leg throws while a sibling blocks; the call returns only after the sibling has stopped") {
    val blocked = new CountDownLatch(1)
    val stopped = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      // the failing leg comes first: waiting on the legs in order
      // would see its failure while the sibling still sleeps
      Par.all(spark, Seq(
        () => { blocked.await(); throw new IllegalStateException("leg failed") },
        () => {
          blocked.countDown()
          try Thread.sleep(60000)
          finally { Thread.sleep(300); stopped.set(true) }
        }))
    }
    assert(e.getMessage == "leg failed")
    assert(stopped.get, "Par.all returned while a sibling leg was still running")
  }

  test("Par.all: a failing leg cancels a sibling's running Spark job") {
    val sc = spark.sparkContext
    val started = new CountDownLatch(1)
    val deadline = System.currentTimeMillis() + 60000
    intercept[IllegalStateException] {
      Par.all(spark, Seq(
        () => {
          while (sc.statusTracker.getActiveJobIds.isEmpty) Thread.sleep(10)
          started.countDown()
          throw new IllegalStateException("leg failed")
        },
        // a task that runs until it is killed (or a minute has passed)
        () => spark.range(0, 1, 1, 1).rdd.foreachPartition { _ =>
          while (!TaskContext.get().isInterrupted() &&
              System.currentTimeMillis() < deadline) Thread.sleep(10)
        }))
    }
    assert(started.getCount == 0)
    val t0 = System.currentTimeMillis()
    while (sc.statusTracker.getActiveJobIds.nonEmpty &&
        System.currentTimeMillis() - t0 < 20000) Thread.sleep(20)
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      "the sibling's job was not cancelled")
    assert(System.currentTimeMillis() < deadline - 30000)
  }
}
