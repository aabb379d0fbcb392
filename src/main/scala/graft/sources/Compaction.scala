package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Output-file sizing for corpus writes — the small-files problem.
  *
  * A 100 TB pipeline that writes with whatever partitioning the last
  * shuffle left behind produces either thousands of KB-sized files
  * (every downstream scan pays per-file open/footer cost, and the
  * driver pays listing) or a handful of multi-GB files (no read
  * parallelism, whole-file retries). Sizing the write to a target
  * file size keeps scans split-friendly and metadata bounded.
  */
object Compaction {

  /** Repartition `df` so each output file lands near `targetMB`, using
    * Catalyst's own logical-plan size estimate (parquet footer totals
    * for scans, propagated through operators — no extra pass over the
    * data). The estimate is of the IN-MEMORY/source bytes, so the
    * on-disk parquet files come out at roughly targetMB × its
    * compression ratio — pick targetMB accordingly (e.g. 256–512 for
    * ~128 MB files on text-heavy data).
    */
  def sizedForWrite(df: DataFrame, targetMB: Int = 256): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = BigInt(targetMB) * 1024 * 1024
    // stats default to a huge sentinel when no source can be sized —
    // cap the partition count so an unknown estimate degrades to the
    // session's shuffle parallelism instead of a million-task shuffle
    val cap = BigInt(math.max(df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt, 1) * 16)
    val raw = bytes / target + (if (bytes % target > 0) 1 else 0)
    df.repartition(raw.min(cap).max(1).toInt)
  }

  /** Compact a parquet directory in place-adjacent: read, resize,
    * write to `out`. The round-trip is a narrow scan + one shuffle —
    * for hive-partitioned datasets use [[compactPartitioned]], which
    * compacts each partition directory independently and shuffle-free.
    */
  def compactParquet(spark: SparkSession, in: String, out: String,
      targetMB: Int = 256): Unit =
    sizedForWrite(spark.read.parquet(in), targetMB)
      .write.mode("overwrite").parquet(out)

  /** Compact a hive-partitioned parquet tree (`k1=v/k2=v/...`) leaf by
    * leaf, preserving the directory layout so partition discovery and
    * pruning on `out` behave exactly as on `in`.
    *
    * Scale design: per-leaf file counts come from the FS listing (ON-
    * DISK bytes — driver metadata only, no compression-ratio guess),
    * and each leaf compacts with `coalesce` — no shuffle, rows stream
    * scan→write. Leaves run as concurrent Spark jobs through
    * [[graft.core.Par.all]] (one per core at a time; this was a fixed
    * 8 before, and the change is not measured), so a 2,000-partition
    * index doesn't serialize into 2,000 sequential jobs. A failed leaf
    * cancels its siblings' jobs and the call returns once every leaf's
    * driver thread and every cancelled write task has ended. Only the
    * FS walk is driver-side.
    *
    * Returns (relative partition path, target file count) per leaf.
    */
  def compactPartitioned(spark: SparkSession, in: String, out: String,
      targetMB: Int = 256): Seq[(String, Int)] = {
    val inPath = new Path(in)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.getFileStatus(inPath).getPath // normalized/qualified
    def leaves(p: Path): Seq[(Path, Long)] = {
      val (dirs, files) = fs.listStatus(p).partition(_.isDirectory)
      val bytes = files.filter(_.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
      val below = dirs.flatMap(d => leaves(d.getPath)).toSeq
      if (bytes > 0) below :+ (p -> bytes) else below
    }
    val target = targetMB.toLong * 1024 * 1024
    val plan = leaves(root).map { case (dir, bytes) =>
      val rel = dir.toString.stripPrefix(root.toString).stripPrefix("/")
      rel -> math.max(1, ((bytes + target - 1) / target).toInt)
    }
    graft.core.Par.all(spark, plan.map { case (rel, nf) => () =>
      spark.read.parquet(s"$in/$rel").coalesce(nf)
        .write.mode("overwrite").parquet(s"$out/$rel")
    })
    plan
  }
}
