package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** FULL CRUD maintenance stream for the BM25 serving layout — the
  * generalization of [[Bm25Ingest]] (adds only) to the CDC-style feed
  * a production index actually consumes: one stream of
  * (op, doc_id, lang, text) rows, `op ∈ {add, del}`, where adds are
  * new crawl results and dels are takedown/dedup verdicts
  * ([[graft.operators.Pipeline]]'s delta shape pointed at the serving
  * layout instead of the corpus snapshot).
  *
  * Every micro-batch applies ATOMICALLY under [[IngestCommit]]: the
  * batch's four artifacts (postings, doc lengths, tombstone rows, ONE
  * stats subtree carrying both the add and delete deltas) stage
  * together and publish together, so a crash can never land the adds
  * without their stats or a tombstone without its negative delta —
  * the failure a direct bm25Append+bm25Delete sequence per batch is
  * exposed to (delete recomputes victims from the live view, so a
  * replay after a tombstone-published/stats-missing crash would find
  * no live victims and the stats stay wrong forever). Within a batch,
  * adds apply before dels: add-then-delete of the same doc nets to a
  * tombstoned doc with exact stats (spec law).
  *
  * Scale shape: batch-sized work only — one tokenize, postings staged
  * under the batch terms' buckets, the victim computation is a
  * doc-cardinality semi-join against the (broadcast-tombstone-
  * filtered) `_docs` sidecar, never a postings scan; publish is
  * ≤|touched buckets|+3 renames. Probes between batches stay pruned
  * scans. StreamingSpec pins stream == batch-rebuild-on-survivors,
  * replay refusal, and the within-batch ordering law.
  */
object Bm25Maintain {

  private val Artifacts = Seq(
    "post" -> "", "docs" -> "_docs", "tomb" -> "_tombstones",
    "stats" -> "_stats")

  /** Last committed micro-batch id; −1 before any batch. */
  def committedBatch(s: SparkSession, path: String): Long =
    IngestCommit.committed(s, path)

  /** Apply one (op, doc_id, lang, text) micro-batch; returns false
    * (layout untouched) on replay.
    */
  def applyBatch(batch: DataFrame, batchId: Long, path: String): Boolean = {
    val s = batch.sparkSession
    val b = batch.localCheckpoint(false)
    IngestCommit.applyStaged(s, path, batchId, Artifacts, staged =>
      graft.operators.TextAnalysis.bm25MaintainStage(
        b.filter(col("op") === "add").select("doc_id", "lang", "text"),
        b.filter(col("op") === "del").select("doc_id"),
        path, staged))
  }

  /** Start the maintenance loop over a streaming (op, doc_id, lang,
    * text) frame against the layout at `path` (built by
    * bm25IndexWrite). Caller supplies the checkpoint dir.
    */
  def bm25MaintainStream(feed: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, path); ()
      }
      .start()

  /** [[applyBatch]] for the MULTI-TENANT layout (r16 verdict #5 — the
    * lexical twin of [[IvfMaintain.applyBatch]] on a tenant layout): one
    * (op, doc_id, lang, text) micro-batch against the shared
    * `partitionBy(lang, tb)` layout — adds stage under the batch's own
    * (tenant, bucket) dirs with per-tenant stats deltas, dels are
    * doc_id tombstones priced per tenant, and a whole-tenant purge is
    * that tenant's del rows riding this same feed. Works against a
    * FRESH root too (stream-built layout == q175's batch build, the
    * q203 law). Same staged-publish exactly-once and no-id-reuse
    * contracts.
    */
  def applyBatchTenants(batch: DataFrame, batchId: Long,
      path: String): Boolean = {
    val s = batch.sparkSession
    val b = batch.localCheckpoint(false)
    IngestCommit.applyStaged(s, path, batchId, Artifacts, staged =>
      graft.operators.TextAnalysis.bm25MaintainStageTenants(
        b.filter(col("op") === "add").select("doc_id", "lang", "text"),
        b.filter(col("op") === "del").select("doc_id"),
        path, staged))
  }

  /** The cheap compaction TRIGGER for the managed stream: fraction of
    * tombstoned docs over all indexed docs — two doc-cardinality
    * counts off the sidecars, never a postings scan. A doc-count
    * proxy for the posting-row dead fraction q172's census computes
    * exactly (the exact census is the audit; this is the per-batch
    * heartbeat — at per-batch cadence the trigger must cost sidecar
    * reads only).
    */
  def deadDocFrac(s: SparkSession, path: String): Double = {
    if (!graft.core.Fs.exists(s, s"$path/_tombstones")) return 0.0
    // doc_id and dl are in both layout shapes' `_docs`
    val docs = graft.operators.TextAnalysis.bm25Sidecar(s, path, "_docs")
    val dead = docs.join(
      graft.operators.TextAnalysis.bm25Sidecar(s, path, "_tombstones")
        .distinct(),
      Seq("doc_id"), "left_semi").count()
    val total = docs.count()
    if (total == 0L) 0.0 else dead.toDouble / total.toDouble
  }

  /** Compact the CURRENT generation into the next and swap, CARRYING
    * the replay pointer — without the carry, committedBatch on the
    * fresh generation reads −1 and a post-swap redelivery would
    * double-apply into the compacted layout (the exactly-once
    * guarantee must survive generation flips). Old generations are
    * retained for in-flight readers; [[graft.core.Roots.retire]] is
    * the caller's cleanup policy.
    */
  def compactAndSwap(s: SparkSession, base: String,
      buckets: Int = 64): String = {
    val curGen = graft.core.Roots.currentGen(s, base)
    val next = "gen" + (curGen.stripPrefix("gen").toLong + 1L)
    graft.operators.TextAnalysis.bm25Compact(
      s, s"$base/$curGen", s"$base/$next", buckets)
    val committed = IngestCommit.committed(s, s"$base/$curGen")
    if (committed >= 0L)
      graft.core.Fs.writeUtf8Atomic(s,
        s"$base/$next/_INGEST_COMMIT", committed.toString)
    graft.core.Roots.publish(s, base, next)
    next
  }

  /** The MANAGED maintenance loop — the full operational composition
    * every piece of the serving lifecycle was built for, as one call:
    * the CRUD feed applies exactly-once against the generation the
    * [[graft.core.Roots]] pointer names, and after each committed
    * batch the dead-doc trigger decides "compact now?" (q172's policy
    * question at per-batch cadence); at or over `compactAt`, the
    * layout compacts OFFLINE into the next generation and the pointer
    * swaps atomically — probes never see a half-written layout,
    * replay protection survives the flip (pointer carried), and a
    * crash between commit and compaction merely defers the compaction
    * to the next trigger (benign: compaction is an optimization,
    * correctness lives in tombstones).
    *
    * Base must hold a published generation (bm25IndexWrite into
    * `base/gen0` + Roots.publish). StreamingSpec drives a feed sized
    * to trigger ≥1 auto-compaction and pins probe == rebuild-on-
    * survivors, generation advance, and post-swap replay refusal.
    */
  def bm25MaintainStreamManaged(feed: DataFrame, base: String,
      checkpoint: String, compactAt: Double = 0.2,
      buckets: Int = 64): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val cur = graft.core.Roots.current(s, base)
        if (applyBatch(batch, batchId, cur) &&
            deadDocFrac(s, cur) >= compactAt) {
          compactAndSwap(s, base, buckets); ()
        }
      }
      .start()

  /** [[compactAndSwap]] through the TENANT rewrite
    * ([[graft.operators.TextAnalysis.bm25CompactTenants]]): a fully
    * purged tenant's `lang=` subtree and stats rows vanish with the
    * generation flip — erasure's bytes reclaimed by the same swap
    * machinery, the lexical twin of [[IvfMaintain.compactAndSwap]] on
    * a tenant layout. Pointer carried so replay
    * protection survives the flip.
    */
  def compactAndSwapTenants(s: SparkSession, base: String,
      buckets: Int = 64): String = {
    val curGen = graft.core.Roots.currentGen(s, base)
    val next = "gen" + (curGen.stripPrefix("gen").toLong + 1L)
    graft.operators.TextAnalysis.bm25CompactTenants(
      s, s"$base/$curGen", s"$base/$next", buckets)
    val committed = IngestCommit.committed(s, s"$base/$curGen")
    if (committed >= 0L)
      graft.core.Fs.writeUtf8Atomic(s,
        s"$base/$next/_INGEST_COMMIT", committed.toString)
    graft.core.Roots.publish(s, base, next)
    next
  }

  /** [[bm25MaintainStreamManaged]] on the tenant layout: CRUD feed
    * applied exactly-once against the generation the Roots pointer
    * names, per-batch dead-doc trigger, offline
    * [[compactAndSwapTenants]] — purged tenants' subtrees drop with
    * the flip.
    */
  def bm25MaintainStreamManagedTenants(feed: DataFrame, base: String,
      checkpoint: String, compactAt: Double = 0.2,
      buckets: Int = 64): StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val cur = graft.core.Roots.current(s, base)
        if (applyBatchTenants(batch, batchId, cur) &&
            deadDocFrac(s, cur) >= compactAt) {
          compactAndSwapTenants(s, base, buckets); ()
        }
      }
      .start()
}
