package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer recorder for the traced run, registered from the benchmark's
  * own code so no program source changes.
  *
  * Spans (workload, pass, call and its build/execute/cleanup phases) are
  * kept in memory and written once at the end. Spark jobs and stages
  * arrive through a [[SparkListener]] and link to the call that ran them
  * through the [[Tracer.CallProperty]] local property the harness sets
  * before each call. Streaming progress comes from a
  * [[StreamingQueryListener]]; filesystem operation counts from Hadoop's
  * per-scheme `FileSystem` statistics, snapshotted around each call.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  /** Milliseconds on the listener clock for a `System.nanoTime` stamp. */
  def nsToMs(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  def span(id: String, parent: String, name: String, layer: String,
      startNs: Long, endNs: Long): Unit =
    spans += Map("id" -> id, "parent" -> parent, "name" -> name,
      "layer" -> layer, "start_ms" -> nsToMs(startNs),
      "end_ms" -> nsToMs(endNs))

  final class StageAgg(val id: Int, val attempt: Int) {
    var name = ""
    var ckpt = false
    var submitted = 0L
    var completed = 0L
    var tasks = 0L
    var cpuNs = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var outputBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  final class JobAgg(val id: Int, val call: String, val start: Long,
      val site: String, val stageIds: Seq[Int]) {
    @volatile var end = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobAgg]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
  private val ckptStages = ConcurrentHashMap.newKeySet[Int]()

  private def ckptRdd(infos: Seq[org.apache.spark.storage.RDDInfo]): Boolean =
    infos.exists { r =>
      val s = r.callSite + " " + r.name
      s.contains("Ckpt.scala") || s.contains("heckpoint")
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val call = Option(e.properties).flatMap(p =>
      Option(p.getProperty(CallProperty))).getOrElse("")
    val site = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).name
    e.stageInfos.foreach { s =>
      if (ckptRdd(s.rddInfos)) ckptStages.add(s.stageId)
    }
    jobs.put(e.jobId, new JobAgg(e.jobId, call, e.time, site,
      e.stageInfos.map(_.stageId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.computeIfAbsent((id, attempt), _ => new StageAgg(id, attempt))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.synchronized {
      s.name = i.name
      s.ckpt = ckptStages.contains(i.stageId) || ckptRdd(i.rddInfos)
      s.submitted = i.submissionTime.getOrElse(0L)
      s.completed = i.completionTime.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      s.durations += e.taskInfo.duration
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  // Live RDD block bytes (memory + disk), and the peak reached while
  // each call ran: what checkpoint and cache materialization holds.
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var liveBlockBytes = 0L
  @volatile private var peakBlockBytes = 0L
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) synchronized {
      val key = b.blockId.name
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val was = Option(blocks.put(key, now)).getOrElse(0L)
      liveBlockBytes += now - was
      peakBlockBytes = math.max(peakBlockBytes, liveBlockBytes)
    }
  }
  /** Peak live block bytes since the last call, then restart the peak
    * from the bytes still live. Only meaningful once the bus is drained. */
  def takeBlockPeak(): Long = synchronized {
    val p = peakBlockBytes
    peakBlockBytes = liveBlockBytes
    p
  }

  val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) progress.synchronized {
        progress += Map(
          "name" -> p.name, "batch" -> p.batchId,
          "input_rows" -> p.numInputRows,
          "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
            k -> v.longValue }.toMap,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
  }

  /** Jobs and their stages, for the result file (after a bus drain). */
  def jobRecords(): Seq[Map[String, Any]] = {
    val byStage = stages.values.asScala.groupBy(_.id)
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val ss = j.stageIds.flatMap(byStage.getOrElse(_, Nil))
      def sum(f: StageAgg => Long) = ss.map(f).sum
      Map(
        "id" -> j.id, "call" -> j.call, "site" -> j.site,
        "start_ms" -> j.start, "end_ms" -> j.end,
        "ckpt" -> (ss.exists(_.ckpt) || j.site.contains("heckpoint") ||
          j.site.contains("Ckpt.scala")),
        "tasks" -> sum(_.tasks), "cpu_s" -> sum(_.cpuNs) / 1e9,
        "input_bytes" -> sum(_.inputBytes),
        "input_records" -> sum(_.inputRecords),
        "shuffle_write_bytes" -> sum(_.shuffleWrite),
        "shuffle_read_bytes" -> sum(_.shuffleRead),
        "spill_bytes" -> sum(_.spill),
        "output_bytes" -> sum(_.outputBytes),
        "stages" -> ss.filter(_.tasks > 0).map { s =>
          val d = s.durations.sorted
          Map("id" -> s.id, "name" -> s.name, "tasks" -> s.tasks,
            "start_ms" -> s.submitted, "end_ms" -> s.completed,
            "input_bytes" -> s.inputBytes,
            "max_task_ms" -> d.last, "median_task_ms" -> d(d.size / 2))
        })
    }
  }
}

object Tracer {
  /** Local property naming the harness call a Spark job belongs to. */
  val CallProperty = "perfbench.call"

  /** Hadoop filesystem counters summed over every scheme, through both
    * the FileSystem and the FileContext API (streaming checkpoints). */
  def fsStats(): Map[String, Long] = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala ++
      org.apache.hadoop.fs.FileContext.getAllStatistics.asScala.values
    Map(
      "bytes_read" -> all.map(_.getBytesRead).sum,
      "bytes_written" -> all.map(_.getBytesWritten).sum)
  }

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }

  /** Total collection seconds over every garbage collector. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap in use right after the latest collection, summed over pools. */
  def heapAfterGcMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum /
      (1024.0 * 1024.0)

  /** Bytes of every regular file under `dir`, and how many of them were
    * written at or after `sinceMs`. Hadoop's local filesystem counts bytes
    * but not operations, so files are counted on disk. */
  def diskCensus(dir: java.io.File, sinceMs: Long): (Long, Long) = {
    val s = java.nio.file.Files.walk(dir.toPath)
    try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((bytes, fresh), p) =>
        try {
          val size = java.nio.file.Files.size(p)
          val mtime = java.nio.file.Files.getLastModifiedTime(p).toMillis
          (bytes + size, fresh + (if (mtime >= sinceMs) 1 else 0))
        } catch { case _: java.io.IOException => (bytes, fresh) }
      }
    finally s.close()
  }
}
