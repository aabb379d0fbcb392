package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** FULL CRUD maintenance stream for the IVF serving layout — the
  * dense twin of [[Bm25Maintain]], completing the maintenance matrix
  * (both layouts: batch CRUD, streaming ingest, streaming CRUD): one
  * feed of (op, vec_id, embedding) rows where adds are new embeddings
  * (assigned to their nearest FROZEN centroid, the
  * [[graft.operators.Similarity.ivfAssignNew]] retrain-free contract)
  * and dels are takedown verdicts (tombstone rows).
  *
  * Each micro-batch's two artifacts (cell-partitioned postings,
  * tombstone ids) stage and publish together under [[IngestCommit]] —
  * a crash can never land a batch's vectors without its tombstones or
  * vice versa, and a replayed batch is refused by the commit pointer.
  * The IVF layout keeps no stats sidecar, so the delete leg needs no
  * live-view pricing: raw ids append and [[graft.operators.Similarity
  * .ivfReadLive]] distincts at read (duplicates harmless), which makes
  * the staged protocol strictly simpler than the lexical one. Same
  * no-id-reuse contract: the id-based tombstone filter would hide a
  * re-added vec_id until a compaction retires the tombstone.
  *
  * Scale shape: one zero-shuffle assignment projection per batch
  * (k-row centroid broadcast), staged write touching only the batch's
  * cells, ≤|touched cells|+1 renames. StreamingSpec pins stream ==
  * batch ivfAppend+ivfDelete of the same rows and replay refusal.
  */
object IvfMaintain {

  private val Artifacts = Seq("post" -> "", "tomb" -> "_tombstones")

  private def index(root: String) = s"$root/index"

  /** Last committed micro-batch id; −1 before any batch. */
  def committedBatch(s: SparkSession, root: String): Long =
    IngestCommit.committed(s, index(root))

  /** Apply one (op, vec_id, embedding) micro-batch; returns false
    * (layout untouched) on replay.
    */
  def applyBatch(batch: DataFrame, batchId: Long, root: String): Boolean = {
    val s = batch.sparkSession
    val b = batch.localCheckpoint(false)
    IngestCommit.applyStaged(s, index(root), batchId, Artifacts, staged => {
      graft.operators.Similarity
        .ivfAssign(
          b.filter(col("op") === "add").select("vec_id", "embedding"),
          graft.operators.Similarity.ivfQuantizer(s, root))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$staged/post")
      b.filter(col("op") === "del")
        .select(col("vec_id").cast("long"))
        .write.mode("overwrite").parquet(s"$staged/tomb")
    })
  }

  /** Start the maintenance loop over a streaming (op, vec_id,
    * embedding) frame against the serving layout at `root` (built by
    * ivfServingSetup). Caller supplies the checkpoint dir.
    */
  def ivfMaintainStream(feed: DataFrame, root: String,
      checkpoint: String): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root); ()
      }
      .start()

  /** [[applyBatch]] for the MULTI-TENANT layout (r15 verdict #4 —
    * the tenant layouts previously had no streaming CRUD leg, forcing
    * batch-side rebuilds): one (op, vec_id, embedding, tb) micro-batch
    * where adds carry their tenant tag through the assignment
    * projection ([[graft.operators.Similarity.ivfAssign]]'s `extra`)
    * and stage `partitionBy(tb, cell)` — published files land only
    * under the batch's own (tenant, cell) dirs, so co-tenants' files
    * are never rewritten by a neighbor's ingest. Dels are vec_id
    * tombstones exactly as single-tenant (the live view's anti-join is
    * tenant-agnostic); a whole-tenant purge rides the same feed as
    * that tenant's del rows. Same staged-publish exactly-once and
    * no-id-reuse contracts.
    */
  def applyBatchTenants(batch: DataFrame, batchId: Long,
      root: String): Boolean = {
    val s = batch.sparkSession
    val b = batch.localCheckpoint(false)
    IngestCommit.applyStaged(s, index(root), batchId, Artifacts, staged => {
      // hash write-distribution on the TWO-LEVEL staged tree (guide
      // §6, Similarity.byParts): the staged partitionBy(tb, cell)
      // write was one small file per (input partition × touched
      // (tenant, cell)) — measured 1.45 s per q198 micro-batch at
      // sf0.1; distributed it is one file per dir, created in parallel
      graft.operators.Similarity.byParts(
        graft.operators.Similarity.ivfAssign(
          b.filter(col("op") === "add"),
          graft.operators.Similarity.ivfQuantizer(s, root),
          col("tb").cast("long").as("tb")), "tb", "cell")
        .write.mode("overwrite").partitionBy("tb", "cell")
        .parquet(s"$staged/post")
      b.filter(col("op") === "del")
        .select(col("vec_id").cast("long"))
        .write.mode("overwrite").parquet(s"$staged/tomb")
    })
  }

  /** The tenant maintenance loop — one stream serving every tenant of
    * the shared `partitionBy(tb, cell)` layout (the single-writer
    * contract is per LAYOUT, so multi-tenant CRUD multiplexes into
    * this one feed rather than a stream per tenant).
    */
  def ivfMaintainStreamTenants(feed: DataFrame, root: String,
      checkpoint: String): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatchTenants(batch, batchId, root); ()
      }
      .start()

  /** [[applyBatch]] for the STORED-PQ layout (r16 verdict #4 — the
    * compressed-at-rest layouts had batch build + append but no
    * streaming CRUD leg): adds run the frozen-quantizer assign+encode
    * projection ([[graft.operators.Similarity.ivfAssignEncodePq]] —
    * the exact per-row kernel ivfAppendPq writes, so a streamed code
    * is byte-identical to a batch-appended one) and stage 4-byte
    * codes `partitionBy(cell)`; dels are vec_id tombstones exactly as
    * single-tenant (the live view's anti-join never touches the
    * payload). Same staged-publish exactly-once and no-id-reuse
    * contracts; managed compaction re-encodes NOTHING (codes are
    * frozen-quantizer pure — a rewrite moves bytes, never recomputes
    * them).
    */
  def applyBatchPq(batch: DataFrame, batchId: Long,
      root: String): Boolean = {
    val s = batch.sparkSession
    val b = batch.localCheckpoint(false)
    IngestCommit.applyStaged(s, index(root), batchId, Artifacts, staged => {
      graft.operators.Similarity
        .ivfAssignEncodePq(s,
          b.filter(col("op") === "add").select("vec_id", "embedding"), root)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$staged/post")
      b.filter(col("op") === "del")
        .select(col("vec_id").cast("long"))
        .write.mode("overwrite").parquet(s"$staged/tomb")
    })
  }

  /** The stored-PQ maintenance loop over a streaming (op, vec_id,
    * embedding) feed against the layout at `root` (built by
    * ivfServingSetupPq). Caller supplies the checkpoint dir.
    */
  def ivfMaintainStreamPq(feed: DataFrame, root: String,
      checkpoint: String): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatchPq(batch, batchId, root); ()
      }
      .start()

  /** Cheap compaction trigger: distinct tombstone ids over index row
    * count — an UPPER BOUND on the true dead fraction (a tombstoned id
    * absent from the index inflates it; deletes normally target known
    * ids, so the bound is tight), priced at one tombstone-sized
    * distinct + one count, never an id join. The exact audit is
    * [[graft.operators.Similarity.ivfDeadByCell]] / q172's census.
    */
  def deadVecFrac(s: SparkSession, root: String): Double = {
    graft.operators.Similarity.ivfTombstones(s, index(root)).fold(0.0) { t =>
      val dead = t.count()
      val total = s.read.parquet(index(root)).count()
      if (total == 0L) 0.0 else dead.toDouble / total.toDouble
    }
  }

  /** Compact the CURRENT generation into the next and swap, carrying
    * the replay pointer ([[Bm25Maintain.compactAndSwap]]'s rule) AND
    * the serving sidecars: an IVF generation is the whole root (index
    * + frozen `_cents` + the q165 query tables), so the k-row centroid
    * table and query payloads copy forward — centroids do not change
    * on compaction (that would be a retrain, a different operation).
    */
  def compactAndSwap(s: SparkSession, base: String): String =
    swapWith(s, base)(graft.operators.Similarity.ivfCompact(s, _, _))

  /** [[compactAndSwap]] for the tenant layout: the rewrite goes
    * through the payload-agnostic [[graft.operators.Similarity
    * .ivfCompactTenants]], so a fully purged tenant's `tb=` subtree
    * simply does not exist in the next generation — erasure's bytes
    * reclaimed by the same swap machinery, full-precision and SQ8
    * payloads alike.
    */
  def compactAndSwapTenants(s: SparkSession, base: String): String =
    swapWith(s, base)(
      graft.operators.Similarity.ivfCompactTenants(s, _, _))

  /** The shared generation-flip: compact the CURRENT generation's
    * index into the next via `compact(srcIndex, destIndex)`, carry the
    * replay pointer ([[Bm25Maintain.compactAndSwap]]'s rule) AND the
    * serving sidecars (an IVF generation is the whole root — frozen
    * `_cents` + query payloads copy forward; centroids do not change
    * on compaction, that would be a retrain), then publish.
    */
  private def swapWith(s: SparkSession, base: String)(
      compact: (String, String) => Unit): String = {
    val curGen = graft.core.Roots.currentGen(s, base)
    val next = "gen" + (curGen.stripPrefix("gen").toLong + 1L)
    graft.core.Fs.deleteRecursive(s, s"$base/$next")
    compact(s"$base/$curGen/index", s"$base/$next/index")
    // `_books` rides along for PQ generations: codebooks are frozen
    // exactly like centroids (re-deriving them would be a retrain)
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
    * composition on the dense layout: CRUD feed applied exactly-once
    * against the generation the [[graft.core.Roots]] pointer names,
    * per-batch dead-vector trigger, offline compaction into the next
    * generation, pointer-carried atomic swap. Base must hold a
    * published generation (ivfServingSetup into `base/gen0` +
    * Roots.publish).
    */
  def ivfMaintainStreamManaged(feed: DataFrame, base: String,
      checkpoint: String, compactAt: Double = 0.2): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val cur = graft.core.Roots.current(s, base)
        if (applyBatch(batch, batchId, cur) &&
            deadVecFrac(s, cur) >= compactAt) {
          compactAndSwap(s, base); ()
        }
      }
      .start()

  /** [[ivfMaintainStreamManaged]] on the tenant layout: CRUD feed
    * (op, vec_id, embedding, tb) applied exactly-once against the
    * generation the Roots pointer names, per-batch dead-vector
    * trigger, offline [[compactAndSwapTenants]] into the next
    * generation — purged tenants' `tb=` subtrees drop with it.
    */
  def ivfMaintainStreamManagedTenants(feed: DataFrame, base: String,
      checkpoint: String, compactAt: Double = 0.2): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val cur = graft.core.Roots.current(s, base)
        if (applyBatchTenants(batch, batchId, cur) &&
            deadVecFrac(s, cur) >= compactAt) {
          compactAndSwapTenants(s, base); ()
        }
      }
      .start()

  /** [[ivfMaintainStreamManaged]] on the stored-PQ layout: CRUD feed
    * applied exactly-once against the generation the Roots pointer
    * names, per-batch dead-vector trigger, offline compaction through
    * the payload-agnostic [[graft.operators.Similarity.ivfCompact]]
    * (tombstoned codes drop; surviving 4-byte codes move untouched —
    * no re-encode) with `_books` carried beside `_cents` into the
    * next generation by [[swapWith]].
    */
  def ivfMaintainStreamManagedPq(feed: DataFrame, base: String,
      checkpoint: String, compactAt: Double = 0.2): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val cur = graft.core.Roots.current(s, base)
        if (applyBatchPq(batch, batchId, cur) &&
            deadVecFrac(s, cur) >= compactAt) {
          compactAndSwap(s, base); ()
        }
      }
      .start()
}
