package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for ITERATIVE loops (connected components, the
  * packed-spine detector helpers): each round's plan references its
  * input several times, so without truncation the logical plan grows
  * geometrically and Catalyst analysis itself OOMs within a few
  * rounds.
  *
  * Two spellings of the same truncation, chosen by the caller:
  *   - `localCheckpoint` (default, `dir = None`): blocks live on
  *     executors — zero reliable-storage dependency, right for
  *     local/sandbox runs and for clusters that accept recomputing a
  *     lost block's JOB on executor loss is NOT possible (local
  *     checkpoint blocks are not lineage-recoverable: losing one
  *     fails the query). Cheap and sufficient where executors are
  *     stable (this sandbox; dedicated clusters).
  *   - reliable `checkpoint(dir)` (`dir = Some(root)`): blocks persist
  *     to an HDFS-compatible path, so a 1000-executor run survives
  *     preemption/spot-kill mid-loop — the executor-loss-safe
  *     spelling every loop's scaladoc promises. Costs a write+read of
  *     each round's frame against the checkpoint store.
  *
  * `dir` routes through `SparkContext.setCheckpointDir`, which is
  * session-global Spark state: call [[init]] once at loop entry (it
  * creates a fresh UUID subdir per invocation — per-run isolation),
  * then [[truncate]] per round.
  */
object Ckpt {

  /** Point the session's checkpoint store at `dir` (no-op for None —
    * the localCheckpoint path needs no store).
    */
  def init(df: DataFrame, dir: Option[String]): Unit =
    dir.foreach(d => df.sparkSession.sparkContext.setCheckpointDir(d))

  /** Truncate `df`'s lineage: localCheckpoint, or reliable checkpoint
    * when a durable dir was [[init]]-ed for this loop.
    */
  def truncate(df: DataFrame, eager: Boolean,
      dir: Option[String]): DataFrame =
    if (dir.isEmpty) df.localCheckpoint(eager) else df.checkpoint(eager)

  /** RDD spelling of [[truncate]], for loops that run below Catalyst:
    * marks `rdd` for localCheckpoint, or persists it and marks it for
    * reliable checkpoint — persisted first, so the next action computes
    * each partition once and the checkpoint write reads those blocks
    * instead of recomputing the round.
    */
  def truncate(rdd: RDD[_], dir: Option[String]): Unit =
    if (dir.isEmpty) rdd.localCheckpoint()
    else { rdd.persist(StorageLevel.MEMORY_AND_DISK); rdd.checkpoint() }
}
