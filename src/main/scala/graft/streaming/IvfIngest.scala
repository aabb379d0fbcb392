package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Similarity.FullLayout

/** LIVE IVF index maintenance — the dense twin of [[Bm25Ingest]],
  * completing the serving-lifecycle matrix (both layouts now have
  * build → streaming ingest → delete → compact → probe legs): a stream
  * of new embeddings appends into an existing
  * full-precision single-tenant [[graft.operators.Similarity.IvfLayout]].
  * Each vector is assigned to its nearest FROZEN centroid (the
  * retrain-free [[graft.operators.Similarity.IvfLayout.encode]]
  * contract — bit-parity with what a rebuild would assign), staged
  * `partitionBy(cell)`, and
  * published into `root/index` under the [[IngestCommit]] protocol, so
  * a probe between batches serves base+ingested vectors alike through
  * the same ≤nprobe-cell pruned scan.
  *
  * Exactly-once on layout state across crash/replay: the staged tree
  * is underscore-hidden from probes, publish renames are batch-tagged
  * and scrub-first idempotent, and the commit pointer goes through the
  * Hadoop FileSystem API (IngestCommit's scaladoc has the crash
  * analysis and the S3 rename caveat). Centroid drift under sustained
  * ingest is the documented retrain trigger, exactly as for batch
  * [[graft.operators.Similarity.IvfLayout.append]].
  *
  * Scale shape: per micro-batch, ONE zero-shuffle assignment
  * projection against the broadcast k-row centroid table + a
  * batch-sized staged write + ≤|touched cells| renames; untouched
  * cells' files are never rewritten and the serving read never sees
  * the staging dir. StreamingSpec pins probe-after-stream == rebuild
  * (a batch append of the same rows), replay refusal, and crash-retry ==
  * clean-run end state.
  */
object IvfIngest {

  private val Artifacts = Seq("post" -> "")

  private def index(root: String) = s"$root/index"

  /** Last committed micro-batch id; −1 before any batch. */
  def committedBatch(s: SparkSession, root: String): Long =
    IngestCommit.committed(s, index(root))

  /** Apply one micro-batch of (vec_id, embedding) rows; returns false
    * (layout untouched) on replay.
    */
  def applyBatch(batch: DataFrame, batchId: Long, root: String): Boolean = {
    val s = batch.sparkSession
    IngestCommit.applyStaged(s, index(root), batchId, Artifacts, staged =>
      FullLayout.write(FullLayout.encode(s, root, batch), s"$staged/post"))
  }

  /** Start the ingest loop over a streaming (vec_id, embedding) frame
    * into the serving layout at `root` (a full-precision layout build).
    * Caller supplies the checkpoint dir.
    */
  def ivfIngestStream(emb: DataFrame, root: String,
      checkpoint: String): StreamingQuery =
    emb.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root); ()
      }
      .start()
}
