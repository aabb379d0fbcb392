package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.TaskContext

import graft.core.Par

/** `file:` under the scheme `hookfs:`, with test hooks on rename and on
  * creating a part file — the failure-path specs below make one
  * publish rename or one compaction write fail while a sibling blocks.
  */
class HookFs extends graft.core.LocalFs.Raw {
  override def getUri: java.net.URI = java.net.URI.create("hookfs:///")
  override def getScheme: String = "hookfs"
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    HookFs.onRename(src)
    super.rename(src, dst)
  }
  override def create(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    if (f.getName.startsWith("part-")) HookFs.onCreatePart(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  // the parquet writer's create, which the local filesystem does not
  // route through the overload above
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    if (f.getName.startsWith("part-")) HookFs.onCreatePart(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object HookFs {
  @volatile var onRename: org.apache.hadoop.fs.Path => Unit = _ => ()
  @volatile var onCreatePart: org.apache.hadoop.fs.Path => Unit = _ => ()

  /** Run `body` with `fs.hookfs.impl` bound, hooks reset afterwards. */
  def using[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.hookfs.impl", classOf[HookFs].getName)
    try body
    finally { onRename = _ => (); onCreatePart = _ => () }
  }
}

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
          ParSpec.taskRunning.set(true)
          try while (!TaskContext.get().isInterrupted() &&
              System.currentTimeMillis() < deadline) Thread.sleep(10)
          finally { Thread.sleep(300); ParSpec.taskRunning.set(false) }
        }))
    }
    assert(started.getCount == 0)
    // Par.all returns only after the cancelled job and its task ended
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      "the sibling's job was not cancelled")
    assert(!ParSpec.taskRunning.get, "the sibling's task was still running")
    assert(System.currentTimeMillis() < deadline - 30000)
  }

  test("Fs.publishParquet: a rename throws while a sibling rename blocks; " +
    "the call returns only after the sibling has stopped") {
    val staged = java.nio.file.Files.createTempDirectory("pub_staged")
    val dest = java.nio.file.Files.createTempDirectory("pub_dest")
    Seq("a", "b", "c").foreach(n =>
      java.nio.file.Files.write(staged.resolve(s"$n.parquet"), Array[Byte](1)))
    val blocked = new CountDownLatch(1)
    val stopped = new AtomicBoolean(false)
    val e = HookFs.using(spark) {
      HookFs.onRename = src => src.getName match {
        // the failing rename sorts first: waiting on the renames in
        // order would see its failure while the sibling still sleeps
        case "a.parquet" =>
          blocked.await(); throw new java.io.IOException("rename failed")
        case "b.parquet" =>
          blocked.countDown()
          try Thread.sleep(60000)
          finally { Thread.sleep(300); stopped.set(true) }
        case _ =>
      }
      intercept[java.io.IOException] {
        graft.core.Fs.publishParquet(spark, s"hookfs://$staged",
          s"hookfs://$dest", "t")
      }
    }
    assert(e.getMessage == "rename failed")
    assert(stopped.get, "publishParquet returned while a rename was still running")
  }

  test("Compaction.compactPartitioned: a failing leaf cancels a sibling " +
    "leaf's running write") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("cmp_in").toString
    val out = java.nio.file.Files.createTempDirectory("cmp_out").toString
    Seq(("bad", 1L), ("slow", 2L)).toDF("rel", "v")
      .write.mode("overwrite").partitionBy("rel").parquet(in)
    val started = new CountDownLatch(1)
    val killed = new AtomicBoolean(false)
    val ended = new AtomicBoolean(false)
    val deadline = System.currentTimeMillis() + 60000
    HookFs.using(spark) {
      HookFs.onCreatePart = f => f.toString match {
        case p if p.contains("rel=slow") =>
          // the sibling's write task runs until it is killed (or a
          // minute has passed)
          started.countDown()
          try {
            while (!TaskContext.get().isInterrupted() &&
                System.currentTimeMillis() < deadline)
              try Thread.sleep(10) catch { case _: InterruptedException => }
            killed.set(TaskContext.get().isInterrupted())
          } finally { Thread.sleep(300); ended.set(true) }
          throw new java.io.IOException("sibling write stopped")
        case p if p.contains("rel=bad") =>
          started.await(); throw new java.io.IOException("leaf failed")
        case _ =>
      }
      intercept[Exception] {
        graft.sources.Compaction.compactPartitioned(spark, in,
          s"hookfs://$out", targetMB = 1)
      }
    }
    // compactPartitioned returns only after the killed task ended
    assert(ended.get, "the sibling leaf's write task was still running")
    assert(killed.get, "the sibling leaf's write was not cancelled")
    assert(System.currentTimeMillis() < deadline - 30000)
  }
}

object ParSpec {
  /** Set while the job case's task runs (tasks run in this JVM). */
  val taskRunning = new AtomicBoolean(false)
}
