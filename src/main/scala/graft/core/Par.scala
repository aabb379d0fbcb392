package graft.core

import java.util.UUID
import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
  Executors, TimeUnit}

import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.SparkSession

/** Independent write pipelines run side by side: a serving setup's
  * index and sidecar writes land on disjoint paths (`index/`, `_cents`,
  * `_query`, ...), so running them one after another pays one
  * driver-side plan/commit gap per artifact with the cluster idle in
  * between (guide §2.6). Callers must keep the legs' destinations
  * disjoint (a static overwrite truncates its own root).
  *
  * Every serving setup's legs were measured against running them one
  * after another (`tools/par_seq_twin.sh` builds that twin;
  * `tools/ab.sh` compares the two): no setup was faster sequential.
  * The stored SQ8, PQ, tenant-PQ, q204 and q199 builds gain 1.15–1.36×;
  * the others 1.03–1.06×, which is inside their run-to-run spread.
  * The other multi-step writes that need the failure law route
  * through here too: `Fs.publishParquet`'s renames and
  * `Compaction.compactPartitioned`'s per-leaf writes.
  */
object Par {

  /** Run every leg on a pool of min(legs, cores) threads and return
    * when all have finished. On the first failure the siblings are
    * stopped before the call returns: their Spark jobs are cancelled
    * (every leg tags its jobs), their threads are interrupted
    * (`shutdownNow`), and the call waits until every leg has ended
    * (`awaitTermination`). Then it rethrows that first failure. So no
    * leg's driver-side work (a rename, a job submission) is still
    * running when a caller's retry or cleanup starts on the same
    * paths. It also waits for the cancelled Spark work: a leg blocked
    * in a job returns as soon as it is interrupted, while the killed
    * task may run on an executor until it notices the kill, so the
    * call returns only once no job carrying its tag is running and
    * none of their stages has a task still running. A task that never
    * checks its kill flag keeps the call waiting (Spark's task reaper
    * is the bound for that).
    */
  def all(s: SparkSession, legs: Seq[() => Unit]): Unit = {
    val sc = s.sparkContext
    val tag = s"graft-par-${UUID.randomUUID}"
    val pool = Executors.newFixedThreadPool(
      math.min(legs.size, Runtime.getRuntime.availableProcessors).max(1))
    val done = new ExecutorCompletionService[Unit](pool)
    try {
      legs.foreach(f => done.submit(() => { sc.addJobTag(tag); f() }))
      legs.foreach(_ => done.take().get())
    } catch {
      case t: Throwable =>
        sc.cancelJobsWithTag(tag, "a sibling leg failed")
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
        awaitTagged(sc, tag)
        throw (t match {
          case e: ExecutionException => e.getCause
          case _ => t
        })
    } finally pool.shutdown()
  }

  /** Wait until no job tagged `tag` is running and no stage of theirs
    * has an active task. The listener bus is drained first, so the
    * status store has seen every job the legs submitted (a drain that
    * times out must not mask the leg's failure; the poll still runs).
    */
  private def awaitTagged(sc: SparkContext, tag: String): Unit = {
    scala.util.Try(org.apache.spark.sql.GraftGlue.drainListenerBus(sc))
    val st = sc.statusTracker
    def running = st.getJobIdsForTag(tag).exists(id =>
      st.getJobInfo(id).exists(j =>
        j.status == JobExecutionStatus.RUNNING ||
          j.stageIds.exists(st.getStageInfo(_).exists(_.numActiveTasks > 0))))
    while (running) Thread.sleep(10)
  }
}
