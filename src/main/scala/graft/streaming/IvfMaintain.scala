package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity.IvfLayout

/** FULL CRUD maintenance stream for the stored IVF serving layouts —
  * the dense twin of [[Bm25Maintain]], completing the maintenance
  * matrix (batch CRUD, streaming ingest, streaming CRUD) for every
  * [[IvfLayout]]: one feed of (op, vec_id, embedding[, tb]) rows where
  * adds are new embeddings (encoded against the layout's FROZEN
  * quantizers by [[IvfLayout.encode]] — the kernel the batch append
  * writes, so a streamed member is byte-identical to a batch-appended
  * one) and dels are takedown verdicts (tombstone rows). A tenant
  * layout's adds carry their `tb` and land only under their own
  * (tenant, cell) dirs; a whole-tenant purge rides the same feed as
  * that tenant's del rows (the single-writer contract is per LAYOUT,
  * so tenants multiplex into one feed).
  *
  * Each micro-batch's two artifacts (cell-partitioned members,
  * tombstone ids) stage and publish together under [[IngestCommit]] —
  * a crash can never land a batch's vectors without its tombstones or
  * vice versa, and a replayed batch is refused by the commit pointer.
  * The IVF layouts keep no stats sidecar, so the delete leg needs no
  * live-view pricing: raw ids append and [[IvfLayout.readLive]]
  * distincts at read (duplicates harmless), which makes the staged
  * protocol strictly simpler than the lexical one. Same no-id-reuse
  * contract: the id-based tombstone filter would hide a re-added
  * vec_id until a compaction retires the tombstone.
  *
  * Scale shape: one zero-shuffle encode projection per batch (k
  * centroid rows as a literal), staged write touching only the
  * batch's cells, ≤|touched cells|+1 renames. StreamingSpec pins
  * stream == batch append+ivfDelete of the same rows and replay
  * refusal.
  */
object IvfMaintain {

  private val Artifacts = Seq("post" -> "", "tomb" -> "_tombstones")

  private def index(root: String) = s"$root/index"

  /** Last committed micro-batch id; −1 before any batch. */
  def committedBatch(s: SparkSession, root: String): Long =
    IngestCommit.committed(s, index(root))

  /** Apply one (op, vec_id, embedding[, tb]) micro-batch to the
    * `layout` at `root`; returns false (layout untouched) on replay.
    */
  def applyBatch(layout: IvfLayout, batch: DataFrame, batchId: Long,
      root: String): Boolean = {
    val s = batch.sparkSession
    val b = batch.localCheckpoint(false)
    IngestCommit.applyStaged(s, index(root), batchId, Artifacts, staged => {
      layout.write(layout.encode(s, root, b.filter(col("op") === "add")),
        s"$staged/post")
      b.filter(col("op") === "del")
        .select(col("vec_id").cast("long"))
        .write.mode("overwrite").parquet(s"$staged/tomb")
    })
  }

  /** Start the maintenance loop over a streaming (op, vec_id,
    * embedding[, tb]) frame against the `layout` built at `root`.
    * Caller supplies the checkpoint dir.
    */
  def ivfMaintainStream(layout: IvfLayout, feed: DataFrame, root: String,
      checkpoint: String): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(layout, batch, batchId, root); ()
      }
      .start()

  /** Cheap compaction trigger: distinct tombstone ids over index row
    * count — an UPPER BOUND on the true dead fraction (a tombstoned id
    * absent from the index inflates it; deletes normally target known
    * ids, so the bound is tight), priced at one tombstone-sized
    * distinct + one count, never an id join. The exact audit is
    * [[graft.operators.Similarity.ivfDeadByCell]] / q172's census.
    */
  def deadVecFrac(s: SparkSession, layout: IvfLayout, root: String): Double =
    graft.operators.Similarity.ivfTombstones(s, index(root)).fold(0.0) { t =>
      val dead = t.count()
      val total = layout.read(s, index(root)).count()
      if (total == 0L) 0.0 else dead.toDouble / total.toDouble
    }

  /** Compact the CURRENT generation into the next and swap, carrying
    * the replay pointer ([[Bm25Maintain.compactAndSwap]]'s rule) AND
    * the serving sidecars: an IVF generation is the whole root (index
    * + frozen `_cents` + query payloads, + `_books` for PQ), and those
    * copy forward — quantizers do not change on compaction (that would
    * be a retrain, a different operation). The rewrite is
    * [[IvfLayout.compact]]: tombstoned members drop, surviving payloads
    * move untouched, and a fully purged tenant's `tb=` subtree does not
    * exist in the next generation.
    */
  def compactAndSwap(s: SparkSession, base: String,
      layout: IvfLayout): String = {
    val curGen = graft.core.Roots.currentGen(s, base)
    val next = "gen" + (curGen.stripPrefix("gen").toLong + 1L)
    graft.core.Fs.deleteRecursive(s, s"$base/$next")
    layout.compact(s, s"$base/$curGen/index", s"$base/$next/index")
    graft.operators.Similarity.SidecarSchemas.foreach { case (side, schema) =>
      if (graft.core.Fs.exists(s, s"$base/$curGen/$side"))
        graft.core.Fs.readSidecar(s, s"$base/$curGen/$side", schema)
          .write.mode("overwrite").parquet(s"$base/$next/$side")
    }
    val committed = IngestCommit.committed(s, s"$base/$curGen/index")
    if (committed >= 0L)
      graft.core.Fs.writeUtf8Atomic(s,
        s"$base/$next/index/_INGEST_COMMIT", committed.toString)
    graft.core.Roots.publish(s, base, next)
    next
  }

  /** The managed loop — [[Bm25Maintain.bm25MaintainStreamManaged]]'s
    * composition on the dense layouts: CRUD feed applied exactly-once
    * against the generation the [[graft.core.Roots]] pointer names,
    * per-batch dead-vector trigger, offline compaction into the next
    * generation, pointer-carried atomic swap. Base must hold a
    * published generation (a `layout` build into `base/gen0` +
    * Roots.publish).
    */
  def ivfMaintainStreamManaged(layout: IvfLayout, feed: DataFrame,
      base: String, checkpoint: String,
      compactAt: Double = 0.2): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val cur = graft.core.Roots.current(s, base)
        if (applyBatch(layout, batch, batchId, cur) &&
            deadVecFrac(s, layout, cur) >= compactAt) {
          compactAndSwap(s, base, layout); ()
        }
      }
      .start()
}
