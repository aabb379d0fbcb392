package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructType}
import graft.core.{QueryPack, Tables}

/** Similarity search over the embedding column (builder-prompt
  * first-class requirement): brute-force cosine top-k as the exactness
  * baseline, sign-LSH bucketing as the scale path, and embedding-cosine
  * near-duplicate pairs.
  *
  * Dot products run as `aggregate(zip_with(...))` — sequential
  * index-order double accumulation, bit-identical to DuckDB's
  * list_dot_product, so cosines hash-match the oracle exactly.
  *
  * Scale: brute-force is one broadcast of the query vector and a
  * linear scan (TakeOrderedAndProject keeps top-k per partition, no
  * global sort); sign-LSH pre-buckets candidates so the scan touches
  * only matching buckets; near-dup pairing joins on bucket keys,
  * never a full cross join.
  */
object Similarity extends QueryPack {

  /** embedding: array<float> → array<double>. A whole-array Cast, not
    * `transform(_.cast)`: bit-identical output (float→double widening
    * is exact either way) but the transform lambda evaluates
    * interpreted per element — measured 1.9× slower for the dot
    * kernel at gsf10 (0.19 s vs 0.10 s per pass), and this helper
    * sits under every dense expression in the pack.
    */
  private def vec(c: Column): Column =
    c.cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType))

  /** Codegen'd Catalyst expression — the `aggregate(zip_with(...))`
    * form is semantically identical but interpreted per element.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.geo.dot_product(a, b)

  /** try_divide, not `/`: under Spark 4's default ANSI mode a plain
    * division THROWS on a zero divisor, so one zero-norm embedding (a
    * routine upstream-service artifact) would kill an entire ANN or
    * dedup job. try_divide yields NULL — which is also what DuckDB's
    * division by zero returns, so the oracles stay aligned: an
    * undefined cosine drops out of `cos >= t` link filters (NULL is
    * not true) in both engines instead of crashing one of them.
    */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** 8-bit sign-LSH bucket of the first 8 dimensions. */
  def signBucket(v: Column): Column =
    concat((1 to 8).map(i =>
      when(element_at(v, i) >= 0f, "1").otherwise("0")): _*)

  /** 8-bit sign-LSH bucket of dimensions 8b+1..8b+8 (band b). */
  def signBand(v: Column, b: Int): Column =
    concat((8 * b + 1 to 8 * b + 8).map(i =>
      when(element_at(v, i) >= 0f, "1").otherwise("0")): _*)

  /** The embeddings table lazily localCheckpoint-ed — the TRAINING-SET
    * CACHE every iterative quantizer query in this pack shares (the
    * q151 footnote made code): a Lloyd trajectory + encode + serving
    * stage re-reference the source frame 3–14 times per query, and
    * uncheckpointed each reference re-scans the parquet (ScanAudit
    * read 12 scans for q139, 14 for q147). One materialization feeds
    * them all; the ContextCleaner frees the blocks with the frame.
    * Valid while the train set fits cluster storage — past that, drop
    * the checkpoint and pay columnar re-scans (the note each decade
    * row carries).
    */
  /** Memoized per (session, sf dir) with a registered evictor — the
    * Dedup.clusterMemo discipline (r18): un-memoized, every helper in
    * a composed query built its OWN checkpoint of the same corpus
    * (q204's three serving setups + its own reference = FOUR
    * materializations of one immutable table per invocation; the
    * SQ8/PQ tenant builds each re-materialized it twice). One frame
    * per (session, dir) makes the composition share one
    * materialization; Bench's scoping drains the memo through
    * MemoRegistry before its block sweep, so every benched query
    * still prices its own standalone materialization.
    */
  private val embMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  graft.core.MemoRegistry.register("similarity.embCached")(
    () => embMemo.clear())

  private def embCached(s: SparkSession, dir: String): DataFrame = {
    embMemo.filterInPlace { case ((sess, _), _) =>
      !sess.sparkContext.isStopped }
    embMemo.getOrElseUpdate((s, dir),
      Tables.embeddings(s, dir).localCheckpoint(false))
  }

  // --- q29: brute-force cosine top-k against a query vector --------------
  def q29BruteTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val q = broadcast(emb.filter($"vec_id" === 0)
      .select(vec($"embedding").as("qv")))
    emb.filter($"vec_id" =!= 0)
      .crossJoin(q)
      .withColumn("cos", cosine(vec($"embedding"), $"qv"))
      .select($"vec_id", $"label", round($"cos", 6).as("cos"))
      .orderBy(round($"cos", 6).desc, $"vec_id".asc)
      .limit(10)
  }

  // --- q30: sign-LSH bucket statistics (the ANN scale path) --------------
  def q30LshBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // norm snapped to round(norm * 2^20) — an integer, exact in a
    // double — before summing: double partial sums are partition-
    // order-dependent, integer sums are exact/associative. Integer
    // granularity is also the cross-engine-safe rounding (x.5
    // boundaries are representable doubles, so Spark's shortest-repr
    // HALF_UP and DuckDB's exact-binary round agree); a DECIMAL snap
    // of a double can flip at fraction boundaries the two engines
    // place on opposite sides (q77's rule).
    Tables.embeddings(s, dir)
      .withColumn("bucket", signBucket($"embedding"))
      .withColumn("normq",
        round(sqrt(dot(vec($"embedding"), vec($"embedding"))) * 1048576.0)
          .cast("long"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dround(
          sum($"normq").cast("double") / (count(lit(1)) * 1048576.0), 4)
          .as("avg_norm"))
      .filter($"n" >= 3)
  }

  /** Deterministic 8-bit grid cell (sign bits of dims 1..8) — an
    * oracle-able coarse quantizer. k-means IVF ([[ivfIndex]]) has no
    * DuckDB twin, so its CORRECTNESS story is recall-spec-only; the
    * grid variant computes identical cells in both engines and gives
    * the probe-pruned ANN path a full hash-checked row (q50).
    */
  def gridCell(v: Column): Column =
    (1 to 8).map(i =>
      when(element_at(v, i) >= 0f, lit(1 << (i - 1))).otherwise(lit(0)))
      .reduce(_ + _)

  /** Plain-Scala twin of [[gridCell]] for row-at-a-time consumers
    * (the streaming SemDeDup state op) — ONE quantizer definition
    * serves both engines' spellings; PipelineOpsSpec asserts
    * bit-parity against the Column form on real data so they cannot
    * silently diverge.
    */
  def gridCellOf(v: Array[Float]): Int =
    (0 until 8).map(i => if (v(i) >= 0) 1 << i else 0).sum

  /** Hamming-1 probe set: the query's cell plus its 8 one-bit flips. */
  def gridProbeCells(qcell: Int): Seq[Int] =
    qcell +: (0 until 8).map(b => qcell ^ (1 << b))

  // --- q50: grid-cell ANN — probe cells within hamming 1 of the query ----
  /** Probes 9 of 256 cells via the bit_count filter; the on-disk form
    * ([[gridSearch]] over a `partitionBy("cell")` index) turns the same
    * probe set into an IN-list partition-pruned scan.
    */
  def q50AnnGridCell(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val q = broadcast(emb.filter($"vec_id" === 0)
      .select(vec($"embedding").as("qv"), gridCell($"embedding").as("qcell")))
    emb.filter($"vec_id" =!= 0)
      .withColumn("cell", gridCell($"embedding"))
      .crossJoin(q)
      .filter(bit_count($"cell".bitwiseXOR($"qcell")) <= 1)
      .withColumn("cos", cosine(vec($"embedding"), $"qv"))
      .select($"vec_id", $"cell", round($"cos", 6).as("cos"))
      .orderBy(round($"cos", 6).desc, $"vec_id".asc)
      .limit(10)
  }

  // --- q77: per-label centroid outliers (embedding quality screen) --------
  /** Distance-to-centroid outlier surface: per-label mean vector, then
    * the 10 vectors farthest from their own label's centroid — the
    * standard screen for mislabeled/corrupt embeddings before they
    * poison an ANN index or a mixture.
    *
    * Scale + determinism shape: centroids come from ONE posexplode +
    * (label, dim) aggregation whose per-element values snap to
    * BINARY-scaled integers first: round(v · 2^20) is EXACT for any
    * float (24-bit mantissa × 2^20 stays inside a double, and dyadic
    * halves round identically under Spark's HALF_UP and DuckDB's
    * half-away-from-zero), so integer sums are exact/associative and
    * both engines build bit-identical centroids. A DECIMAL snap of a
    * float is NOT safe here — Spark casts through the shortest-string
    * double repr while DuckDB rounds the exact binary expansion, and
    * repr-boundary elements would snap differently. The centroid table is
    * |labels| × dim — always broadcastable. Distance is computed
    * per-row as x·x − 2·x·c + c·c with the codegen'd sequential dot
    * (bit-parity with DuckDB's list_dot_product); the top-10 rides
    * TakeOrderedAndProject on the rounded distance.
    */
  def q77EmbeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val cent = emb
      .select($"label", posexplode(vec($"embedding")))
      .withColumn("v", round($"col" * 1048576.0).cast("long"))
      .groupBy($"label", $"pos")
      .agg((sum($"v").cast("double") / (count(lit(1)) * 1048576.0)).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        x => x.getField("c")).as("cvec"))
    emb.join(broadcast(cent), "label")
      .withColumn("d2",
        dot(vec($"embedding"), vec($"embedding"))
          - lit(2.0) * dot(vec($"embedding"), $"cvec")
          + dot($"cvec", $"cvec"))
      .select($"vec_id", $"label",
        graft.core.Exact.dround($"d2", 4).as("dist2"))
      .orderBy(graft.core.Exact.dround($"d2", 4).desc, $"vec_id".asc)
      .limit(10)
  }

  /** Serving-path probe over a `partitionBy("cell")` grid index: the
    * 9-value IN list prunes at the scan (asserted by PipelineOpsSpec),
    * so a probe reads ~9/256ths of the index regardless of its size.
    */
  def gridSearch(index: DataFrame, queryVec: Seq[Double], qcell: Int,
      topK: Int): DataFrame = {
    import index.sparkSession.implicits._
    val qv = array(queryVec.map(lit): _*)
    index.filter($"cell".isin(gridProbeCells(qcell): _*))
      .withColumn("cos", cosine(vec($"embedding"), qv))
      .select($"vec_id", round($"cos", 6).as("cos"))
      .orderBy($"cos".desc, $"vec_id".asc)
      .limit(topK)
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer; a query scans
    * only the `nprobe` nearest centroid cells. The index is a
    * DataFrame keyed by cell — at scale, written
    * `partitionBy("cell")` so a probe is a partition-pruned scan.
    */
  /** (indexed embeddings with a `cell` column, centroids table). At
    * scale the index is written `partitionBy("cell")` so probes are
    * partition-pruned scans; centroids (k rows) broadcast everywhere.
    */
  def ivfIndex(emb: DataFrame, k: Int,
      seed: Long = 7L): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.functions.array_to_vector
    import emb.sparkSession.implicits._
    val feat = emb.withColumn("__f",
      array_to_vector(col("embedding").cast("array<double>")))
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(k).setSeed(seed).setFeaturesCol("__f").fit(feat)
    val indexed = model.transform(feat)
      .withColumnRenamed("prediction", "cell").drop("__f")
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray.toSeq) }
      .toDF("cell", "centroid")
    (indexed, centroids)
  }

  /** Deterministic IVF: centroids are FIXED member vectors
    * (`centroidIds`, e.g. a seeded sample — sampling training points
    * as coarse centroids is standard IVF practice), so unlike
    * [[ivfIndex]]'s k-means the whole index is replicable in any
    * engine and q101 gets a full hash-checked oracle row. Assignment
    * is argmax cosine with ties broken to the SMALLEST cell id; the
    * cosine is rounded to 6 decimals first so the comparison both
    * engines make is on identical values, and a zero-norm vector
    * (NULL cosine everywhere) coalesces to -2.0 — below any real
    * cosine — landing it deterministically in the smallest cell.
    *
    * Scale shape: ZERO-SHUFFLE assignment. The k centroids collapse to
    * ONE packed row (collect_list of k structs) that broadcasts, and
    * the argmax runs per-row inside a single projection
    * (array_max over struct(acos, -cell) — lexicographic struct
    * ordering gives max-cosine-then-min-cell). No N×k join output, no
    * row_number window over N×k rows, no exchange of the embedding
    * column at all; the k-row centroid table broadcasts everywhere.
    * At 100 TB the index is then written `partitionBy("cell")`
    * (the [[ivfIndex]] spec's layout) so probes prune at the scan.
    */
  def ivfIndexFixed(emb: DataFrame, centroidIds: Seq[Long]): (DataFrame, DataFrame) = {
    import emb.sparkSession.implicits._
    val centroids = emb.filter($"vec_id".isin(centroidIds: _*))
      .select($"vec_id".as("cell"), vec($"embedding").as("centroid"))
    val packed = broadcast(centroids
      .agg(collect_list(struct($"cell", $"centroid")).as("cents")))
    val idx = emb.crossJoin(packed)
      .withColumn("best", array_max(transform($"cents", c =>
        struct(
          coalesce(round(cosine(vec($"embedding"), c.getField("centroid")), 6),
            lit(-2.0)).as("acos"),
          (-c.getField("cell")).as("negcell")))))
      .select($"vec_id", $"embedding", (-$"best.negcell").as("cell"))
    (idx, centroids)
  }

  // --- q101: IVF ANN probe over the deterministic fixed-centroid index ----
  /** The 100 TB ANN serving path, promoted to a full oracle row:
    * probe the `nprobe`=3 cells whose centroids are nearest the query,
    * scan only those cells' members, exact cosine top-10 within them.
    * Probe-cell choice and final ordering share q29/q50's determinism
    * rule (round to 6, then id/cell ascending tie-breaks).
    * PipelineOpsSpec adds the recall census vs q29's exact answer.
    */
  def q101AnnIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embCached(s, dir)
    val (idx, centroids) = ivfIndexFixed(emb, 1L to 8L)
    val q = broadcast(emb.filter($"vec_id" === 0)
      .select(vec($"embedding").as("qv")))
    val probe = centroids.crossJoin(q)
      .withColumn("csim", round(cosine($"centroid", $"qv"), 6))
      .orderBy($"csim".desc, $"cell".asc).limit(3).select($"cell")
    idx.filter($"vec_id" =!= 0)
      .join(broadcast(probe), "cell")
      .crossJoin(q)
      .withColumn("cos", cosine(vec($"embedding"), $"qv"))
      .select($"vec_id", $"cell", round($"cos", 6).as("cos"))
      .orderBy(round($"cos", 6).desc, $"vec_id".asc)
      .limit(10)
  }

  def ivfSearch(index: DataFrame, centroids: DataFrame,
      queryVec: Seq[Double], nprobe: Int, topK: Int): DataFrame = {
    import index.sparkSession.implicits._
    val qv = array(queryVec.map(lit): _*)
    val cells = centroids
      .withColumn("csim", cosine($"centroid", qv))
      .orderBy($"csim".desc).limit(nprobe).select($"cell")
    index.join(broadcast(cells), "cell")
      .withColumn("cos", cosine(vec($"embedding"), qv))
      .select($"vec_id", round($"cos", 6).as("cos"))
      .orderBy($"cos".desc, $"vec_id".asc)
      .limit(topK)
  }

  /** Bucketed ANN: search only the query's sign bucket — the scale
    * path (not in the oracle set: used by SimilaritySpec to measure
    * recall against q29's exact answer).
    */
  def annInBucket(s: SparkSession, dir: String, queryId: Long, k: Int): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val q = broadcast(emb.filter($"vec_id" === queryId)
      .select(vec($"embedding").as("qv"),
        signBucket($"embedding").as("qbucket")))
    emb.filter($"vec_id" =!= queryId)
      .withColumn("bucket", signBucket($"embedding"))
      .crossJoin(q)
      .filter($"bucket" === $"qbucket")
      .withColumn("cos", cosine(vec($"embedding"), $"qv"))
      .select($"vec_id", round($"cos", 6).as("cos"))
      .orderBy($"cos".desc, $"vec_id".asc)
      .limit(k)
  }

  // --- q31: embedding-cosine near-duplicate links (star-bucketed) ---------
  /** Near-duplicate links doc↔bucket-representative over 3 sign-LSH
    * bands (24 bucket bits total, OR'd across bands) — the same
    * star-shaped link pattern as MinHash/SimHash dedup (q26/q27).
    * Candidates are ≤ bands×N links (each vector pairs only with its
    * band-bucket representative), never per-bucket all-pairs: the
    * previous all-pairs form had only 2⁸ possible buckets, so pairs
    * grew O(N²/256) concentrated on the hottest reducer — 10,000× the
    * work at 100× data. Links sharing several bands dedupe via
    * distinct before the (broadcast-able) embedding re-join.
    */
  /** Candidate links (i=band-bucket representative, j=member): at most
    * bands×N rows by construction — the O(N) bound PlanSpec asserts.
    */
  def nearDupCandidates(emb: DataFrame, nBands: Int = 3): DataFrame = {
    import emb.sparkSession.implicits._
    // CACHED: bands is nBands narrow rows per vector (id, band, bk —
    // no vector payload), but building it reads the HEAVY embedding
    // column and hashes every vector. Both the reps aggregate and the
    // member join consume it; uncached, Catalyst inlines the full
    // scan+hash at each reference — two passes over the widest column
    // in the table for one tiny frame. Lifecycle: Verify/Bench
    // clearCache() after every query (scoped-cache rule, q26/q28/q49).
    val bands = emb.select($"vec_id", explode(array((0 until nBands).map(b =>
      struct(lit(b).as("band"), signBand($"embedding", b).as("bk"))): _*))
      .as("bb")).select($"vec_id", $"bb.band", $"bb.bk")
      .cache()
    val reps = bands.groupBy($"band", $"bk")
      .agg(min($"vec_id").as("i"))
    bands.join(reps, Seq("band", "bk"))
      .filter($"vec_id" > $"i")
      .select($"i", $"vec_id".as("j")).distinct()
  }

  /** Link-acceptance threshold: calibrated to the SYNTHETIC
    * near-isotropic corpus, where band-bucket candidate cosines top
    * out near 0.47 — the original 0.5 admitted ZERO links at every SF,
    * so the oracle hash gate was trivially green on an empty frame
    * (r15 verdict #2). τ = 0.4 keeps the query non-vacuous at
    * sf0.001/0.01/0.1 (verified: 8/3/19 links); a real embedding
    * corpus (clustered, cos≈0.9+ near-dups) raises it back.
    */
  private[graft] val NearDupTau = 0.4

  def embeddingNearDup(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val cand = nearDupCandidates(emb)
    val va = emb.select($"vec_id".as("i"), vec($"embedding").as("va"))
    val vb = emb.select($"vec_id".as("j"), vec($"embedding").as("vb"))
    cand.join(va, "i").join(vb, "j")
      .withColumn("cos", cosine($"va", $"vb"))
      .filter($"cos" >= NearDupTau)
      .select($"i", $"j", round($"cos", 6).as("cos"))
  }

  def q31EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    embeddingNearDup(Tables.embeddings(s, dir))

  // --- q97: SemDeDup — the semantic-dedup keep/drop decision --------------
  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    * embedding space with a coarse quantizer, then inside each cluster
    * drop every vector whose cosine to the cluster representative
    * reaches the threshold — one exemplar survives per semantic
    * near-dup group. q31 emits candidate LINKS; this emits the
    * DECISION a pipeline acts on — the full per-vector keep/drop
    * census.
    *
    * Cluster = the deterministic 8-bit grid cell (q50's oracle-able
    * coarse quantizer; the paper uses k-means — [[ivfIndex]] is that
    * path, the grid keeps the DuckDB twin bit-exact). Representative =
    * min vec_id per cell, so each member compares against exactly ONE
    * vector (star shape — never within-cell all-pairs, whose hottest
    * cell would own O(|cell|²) work at scale). Plan: ONE aggregation
    * exchange builds the rep table — `min_by` carries the rep's VECTOR
    * out of the same aggregation, so no second pass re-fetches it
    * (ScanAudit: 2 embedding scans, the agg + the decorate pass, the
    * minimum for an agg-then-decorate shape). The rep table (≤ 2⁸ rows
    * here; ≤ k under a k-means quantizer) broadcasts back; per-row
    * bit-parity cosine. No other shuffle.
    *
    * tau = 0.25 is calibrated to the synthetic corpus (p90 of
    * cos-to-rep ≈ 0.25 on near-isotropic vectors; real embedding
    * corpora sit near the paper's ~0.95): the oracle checks the
    * machinery — quantizer, star comparison, exact cosine, census —
    * not the production threshold.
    */
  def semDedup(emb: DataFrame, tau: Double = 0.25): DataFrame = {
    import emb.sparkSession.implicits._
    val cells = emb.select($"vec_id", vec($"embedding").as("v"),
      gridCell($"embedding").as("cell"))
    // one aggregation yields the rep id AND its vector (vec_id is
    // unique, so min_by is deterministic)
    val reps = cells.groupBy($"cell").agg(min($"vec_id").as("rep"),
      min_by($"v", $"vec_id").as("rv"))
    cells.join(broadcast(reps), "cell")
      // zero-norm embeddings (upstream service artifacts) have NO
      // defined cosine: cosr is NULL ([[cosine]]'s try_divide — in
      // both engines). A dedup screen must not drop what it cannot
      // measure, so an undefined cosine KEEPS the row with a null
      // cos_rep; the oracle spells the same rule with IS NULL OR
      // isnan.
      .withColumn("cosr", cosine($"v", $"rv"))
      .select($"vec_id", $"cell",
        when($"vec_id" === $"rep" || $"cosr".isNull || isnan($"cosr"),
          lit(null).cast("double"))
          .otherwise(round($"cosr", 6)).as("cos_rep"),
        ($"vec_id" === $"rep" || $"cosr".isNull || isnan($"cosr") ||
          $"cosr" < tau).as("kept"))
  }

  def q97SemDedup(s: SparkSession, dir: String): DataFrame =
    semDedup(Tables.embeddings(s, dir))

  // --- q117: SemDeDup threshold sweep ---------------------------------------
  /** Keep/drop census at FIVE cosine thresholds in one pass — the
    * tuning run a team does before committing a SemDeDup tau (Abbas et
    * al. 2023 sweep §4.1: the kept fraction vs tau curve IS the
    * dedup-aggressiveness dial). Reuses [[semDedup]]'s published
    * cos_rep column (round-6 cosine to the cell representative; NULL
    * for reps and undefined cosines, which every tau keeps), so the
    * expensive part — grid quantize, rep aggregation, broadcast
    * cosine — runs ONCE and the sweep is a ×|taus| narrow explode
    * over a scalar, grouped into |taus| rows. Comparing the ROUNDED
    * cosine to tau keeps the boundary decision identical in both
    * engines (the q95 determinism class).
    */
  private val SweepTaus = Seq(0.1, 0.25, 0.5, 0.75, 0.9)

  def q117SemdedupSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    semDedup(Tables.embeddings(s, dir))
      .select($"cos_rep",
        explode(array(SweepTaus.map(lit(_)): _*)).as("tau"))
      .groupBy($"tau")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"cos_rep".isNull || $"cos_rep" < $"tau", 1L)
          .otherwise(0L)).as("n_kept"))
      .withColumn("n_dropped", $"n_vecs" - $"n_kept")
      .withColumn("keep_rate", graft.core.Exact.dround(
        $"n_kept".cast("double") / $"n_vecs".cast("double"), 4))
  }

  // --- q102: seeded Lloyd k-means over embeddings (2-round census) --------
  /** Embedding dimension is FIXED at 64 at every SF (generator
    * contract, same constant as q77's oracle).
    */
  private[graft] val EmbDim = 64

  /** One Lloyd assignment round: each vector to its nearest centroid
    * by squared L2, ties to the smallest cluster id.
    *
    * Scale shape: ZERO-shuffle. The k centroids collapse into ONE
    * packed broadcast row and the argmin runs per-row inside a single
    * projection — the codegen'd [[org.apache.spark.sql.graft
    * .NearestCentroidExpr]] (k tight primitive loops per row) — so no
    * N×k join output, no row_number window, no exchange of the
    * embedding column. The earlier declarative spelling
    * (array_min over a transform lambda) was measured 5.5–6.4×
    * slower per assignment pass at gsf1/gsf10 (KmeansAssignBench):
    * higher-order lambdas evaluate interpreted per candidate with a
    * struct allocation each. d2 = x·x − 2·x·c + c·c from the same
    * codegen'd sequential dot in the same IEEE operation order
    * (bit-parity with DuckDB's list_dot_product), ties to the
    * smallest cl — both engines pick identical winners, and the
    * expression's struct output is field-for-field the old lambda's.
    */
  def kmeansAssign(emb: DataFrame, cents: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    // input columns PASS THROUGH (tenant tags, labels — anything the
    // caller needs downstream rides the same projection instead of a
    // vec_id re-join); every consumer projects explicitly after, so
    // extra columns are free. The pass-through precondition is
    // ENFORCED, not a comment (r15 advice): an input already carrying
    // an assignment's outputs (a prior round's frame fed back in)
    // would silently produce replaced/ambiguous columns.
    val reserved = Set("cl", "d2", "best", "cents")
      .intersect(emb.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet)
    require(reserved.isEmpty,
      s"kmeansAssign input already carries ${reserved.mkString(", ")} — " +
        "drop assignment outputs before re-assigning")
    val packed = broadcast(
      cents.agg(collect_list(struct($"cl", $"cvec")).as("cents")))
    emb.crossJoin(packed)
      .withColumn("best", graft.functions.geo.nearest_centroid(
        vec($"embedding"), $"cents"))
      .select(emb.columns.map(col) ++
        Seq($"best.cl".as("cl"), $"best.d2".as("d2")): _*)
  }

  /** A trained coarse quantizer held on the driver: its k (cell,
    * centroid) rows in [[CentsSchema]] form, exactly as collected
    * (bounded by k, never by the corpus). Every consumer of one
    * trajectory — the index assignment, the `_cents` write, the PQ
    * residuals — reads these rows instead of re-running the Lloyd
    * rounds, and assignment against them needs no broadcast job: the
    * rows ride a literal inside `nearest_centroid`.
    */
  private[graft] final case class Quantizer(rows: Seq[Row]) {
    /** The rows as `nearest_centroid`'s packed array<struct<cl, cvec>>
      * argument — a literal, so the assignment is one projection.
      */
    def packed: Column = org.apache.spark.sql.GraftGlue.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(rows,
        ArrayType(
          StructType.fromDDL(
            "cl BIGINT, cvec ARRAY<DOUBLE>"))))

    /** (cell, centroid) as a one-partition local frame — the `_cents`
      * sidecar rows, written as one file.
      */
    def frame(s: SparkSession): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(rows: _*), CentsSchema)
        .coalesce(1)

    /** The nearest cell of `v` (array<double>): [[kmeansAssign]]'s
      * argmin (same composed-dot d2, ties to the smallest cell).
      */
    def cellOf(v: Column): Column =
      graft.functions.geo.nearest_centroid(v, packed).getField("cl")
  }

  private[graft] object Quantizer {
    /** Collect a (cell, centroid) frame — k rows — to the driver. */
    def of(cents: DataFrame): Quantizer =
      Quantizer(cents.select(col("cell").cast("long"),
        vec(col("centroid"))).collect().toSeq)
  }

  /** Train the coarse quantizer once: [[ivfLearned]]'s trajectory
    * (seeds = vec_id 1..k, then `iters - 1` Lloyd updates), each
    * round's k centroid rows collected to the driver and fed to the
    * next assignment as a literal. A round is one k-row aggregation
    * over one zero-shuffle projection; nothing else is scheduled.
    */
  private[graft] def ivfTrain(emb: DataFrame, k: Int, iters: Int): Quantizer = {
    import emb.sparkSession.implicits._
    require(iters >= 1, "iters must be >= 1")
    val seeds = Quantizer.of(emb.filter($"vec_id".between(1L, k.toLong))
      .select($"vec_id".as("cell"), $"embedding".as("centroid")))
    (1 until iters).foldLeft(seeds) { (q, _) =>
      Quantizer.of(kmeansUpdate(emb.select($"embedding",
          q.cellOf(vec($"embedding")).as("cl")))
        .select($"cl".as("cell"), $"cvec".as("centroid")))
    }
  }

  /** Assign every vector to its nearest cell of a driver-side
    * quantizer: (vec_id, embedding, extra…, cell) in one projection —
    * the one frozen-centroid assignment every IVF build, append and
    * ingest stream runs. `extra` rides the same projection (a tenant
    * tag), so no vec_id re-join follows.
    */
  private[graft] def ivfAssign(emb: DataFrame, q: Quantizer,
      extra: Column*): DataFrame =
    emb.select((col("vec_id") +: col("embedding") +: extra :+
      q.cellOf(vec(col("embedding"))).as("cell")): _*)

  /** A stored layout's frozen quantizer: its `_cents` sidecar's k rows
    * read with their writer's schema and collected to the driver.
    */
  private[graft] def ivfQuantizer(s: SparkSession, root: String): Quantizer =
    Quantizer.of(graft.core.Fs.readSidecar(s, s"$root/_cents", CentsSchema))

  /** One Lloyd update round: new centroid = per-dimension mean of the
    * cluster's members, built from round(v·2^20) integer sums (q77's
    * exactness rule: the snap is exact for any float and dyadic halves
    * round identically in both engines, so integer sums are
    * associative and the resulting centroids bit-identical however the
    * data is partitioned). ONE hash aggregation by cl with 64
    * map-side-combined sums — no posexplode row blowup, k rows out.
    * Empty clusters drop (standard Lloyd; deterministic here since
    * assignments match across engines).
    */
  def kmeansUpdate(asg: DataFrame): DataFrame = kmeansUpdate(asg, EmbDim)

  /** [[kmeansUpdate]] for an arbitrary dimensionality — q147's PQ
    * codebooks train on 16-dim subvectors through the same
    * integer-snapped rule.
    */
  def kmeansUpdate(asg: DataFrame, dims: Int): DataFrame = {
    import asg.sparkSession.implicits._
    val snapped = transform(vec($"embedding"),
      v => round(v * 1048576.0).cast("long"))
    val sums = (1 to dims).map(i =>
      sum(element_at($"snapped", i)).as(s"s$i"))
    asg.withColumn("snapped", snapped)
      .groupBy($"cl")
      .agg(count(lit(1)).as("n"), sums: _*)
      .select($"cl", array((1 to dims).map(i =>
        col(s"s$i").cast("double") / ($"n" * 1048576.0)): _*).as("cvec"))
  }

  /** Distributed k-means with FIXED seeding (initial centroids = the
    * vectors with vec_id 1..k — seeding from training points, standard
    * practice and q101's centroid rule) run for `iters` assignment
    * rounds. Every step is engine-replicable — bit-parity distances,
    * integer-snapped centroid updates — so the WHOLE TRAJECTORY of an
    * iterative ML operator hash-matches a SQL oracle, not just one
    * step. Returns the final assignment (vec_id, embedding, cl, d2).
    *
    * Scale: per round, one zero-shuffle assignment projection + one
    * k-row aggregation; rounds are jobs (q51's CC-loop shape — for
    * deep iteration counts checkpoint the k-row centroid frame per
    * round to truncate lineage; at typical k-means depths the k-row
    * plan nodes are negligible).
    */
  def kmeansFixed(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    import emb.sparkSession.implicits._
    require(iters >= 1, "iters must be >= 1")
    val cent0 = emb.filter($"vec_id".between(1L, k.toLong))
      .select($"vec_id".as("cl"), vec($"embedding").as("cvec"))
    (1 until iters).foldLeft(kmeansAssign(emb, cent0)) { (asg, _) =>
      kmeansAssign(emb, kmeansUpdate(asg))
    }
  }

  /** Per-cluster census after 2 Lloyd rounds: size and mean squared
    * distance to the final centroid (snapped to round(d2·2^20)
    * integers before summing — exact/associative, q30's rule).
    * SemDeDup's production quantizer is exactly this k-means stage
    * (Abbas et al. 2023 §3; the reference's own embedding-space
    * grouping is the VAE latent clustering of
    * Week#12_Assignment.ipynb:104-190) — q97 runs it with the grid
    * quantizer, this is the k-means path promoted to a full
    * hash-checked oracle row.
    */
  def q102KmeansClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val asg = kmeansFixed(embCached(s, dir), k = 8, iters = 2)
    asg.withColumn("d2q", round($"d2" * 1048576.0).cast("long"))
      .groupBy($"cl")
      .agg(count(lit(1)).as("n"),
        graft.core.Exact.dround(
          sum($"d2q").cast("double") / (count(lit(1)) * 1048576.0), 4)
          .as("avg_d2"))
      .select($"cl".as("cluster"), $"n", $"avg_d2")
  }

  // --- q128: IVF probe over LEARNED (k-means) centroids --------------------
  /** The production IVF shape: [[ivfIndexFixed]] probes FIXED member
    * vectors, [[kmeansFixed]] learns centroids — this composes them,
    * indexing by the final Lloyd assignment and probing the nprobe
    * cells whose LEARNED centroids are nearest the query. Every step
    * stays engine-replicable (bit-parity d2, integer-snapped centroid
    * updates), so the composed ANN path gets a full hash-checked
    * oracle row; PipelineOpsSpec adds the recall-vs-nprobe census
    * against q29's exact answer.
    *
    * Scale shape: the training rounds are q102's (zero-shuffle
    * assignment projections + one k-row aggregation per round), run
    * ONCE by [[ivfTrain]] when this is called: the k centroid rows
    * land on the driver, the returned index assigns against them as
    * a literal inside `nearest_centroid` (one projection, no
    * broadcast job), and the returned centroid table is a local
    * frame over the same rows — re-reading either re-runs no Lloyd
    * round. The serving index is then written `partitionBy("cell")`
    * so a probe is a partition-pruned scan of nprobe cells.
    */
  def ivfLearned(emb: DataFrame, k: Int,
      iters: Int): (DataFrame, DataFrame) = {
    val q = ivfTrain(emb, k, iters)
    (ivfAssign(emb, q), q.frame(emb.sparkSession))
  }

  /** Probe the learned index: nprobe cells by smallest squared L2
    * between learned centroid and the query (the metric the quantizer
    * was trained under, ties to the smallest cell), then exact cosine
    * top-10 inside those cells — q101's serving contract on q102's
    * trained quantizer.
    */
  def q128AnnIvfLearned(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embCached(s, dir)
    val (idx, cents) = ivfLearned(emb, k = 8, iters = 2)
    val q = broadcast(emb.filter($"vec_id" === 0)
      .select(vec($"embedding").as("qv")))
    val probe = cents.crossJoin(q)
      .withColumn("qd2", dot($"qv", $"qv")
        - lit(2.0) * dot($"qv", $"centroid")
        + dot($"centroid", $"centroid"))
      .orderBy($"qd2".asc, $"cell".asc).limit(3).select($"cell")
    idx.filter($"vec_id" =!= 0)
      .join(broadcast(probe), "cell")
      .crossJoin(q)
      .withColumn("cos", cosine(vec($"embedding"), $"qv"))
      .select($"vec_id", $"cell", round($"cos", 6).as("cos"))
      .orderBy(round($"cos", 6).desc, $"vec_id".asc)
      .limit(10)
  }

  /** The three query vectors of the q165 batch (and their exclusion
    * set — a query vector is not servable as its own neighbor).
    */
  private[graft] val AnnBatchIds: Seq[Long] = Seq(0L, 1L, 2L)

  // --- q165: multi-query batch ANN probe --------------------------------------
  /** q128's serving contract for a QUERY BATCH — the dense twin of
    * q164's batch BM25: N query vectors answered in ONE pass over the
    * index instead of N probe round-trips. Each query picks its nprobe
    * cells from the broadcast k-row centroid table (per-query window,
    * same d2/tie rules as q128), the cell→query fan-out joins the
    * index ONCE (a member vector scores against exactly the queries
    * probing its cell), and per-query top-10 is one window over the
    * scored frame. At 100 TB this is the reranking-pipeline shape: the
    * index shuffles zero times, the probe frame is |queries|·nprobe
    * rows, and scoring touches only probed cells' members — the same
    * bytes N independent probes would read, in one scheduling pass.
    */
  def q165AnnBatchProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = embCached(s, dir)
    val (idx, cents) = ivfLearned(emb, k = 8, iters = 2)
    val qs = emb.filter($"vec_id".isin(AnnBatchIds: _*))
      .select($"vec_id".as("query_id"), vec($"embedding").as("qv"))
    val pickW = Window.partitionBy($"query_id")
      .orderBy($"qd2".asc, $"cell".asc)
    val probe = broadcast(cents.crossJoin(broadcast(qs))
      .withColumn("qd2", dot($"qv", $"qv")
        - lit(2.0) * dot($"qv", $"centroid")
        + dot($"centroid", $"centroid"))
      .withColumn("rk", row_number().over(pickW))
      .filter($"rk" <= 3)
      .select($"query_id", $"qv", $"cell"))
    val topW = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"vec_id".asc)
    idx.filter(!$"vec_id".isin(AnnBatchIds: _*))
      .join(probe, "cell")
      .withColumn("cos", round(cosine(vec($"embedding"), $"qv"), 6))
      .select($"query_id", $"vec_id", $"cell", $"cos")
      .withColumn("rk", row_number().over(topW))
      .filter($"rk" <= 10).drop("rk")
      .orderBy($"query_id".asc, $"cos".desc, $"vec_id".asc)
  }

  /** Hash-distribute an index frame by its partition columns before a
    * `partitionBy` write — the write.distribution-mode=hash discipline
    * (guide §6), the dense twin of TextAnalysis.byBuckets (r17): every
    * partition dir receives exactly ONE file per write instead of one
    * per (task × dir), and file CREATION parallelizes across tasks
    * instead of serializing in however few partitions the assignment
    * projection inherited from its scan (measured: q198's staged
    * `partitionBy(tb, cell)` micro-batch write was a 1.45 s job at
    * sf0.1 — ~16 input partitions × ~80 dirs of small-file creation;
    * at cluster scale the same shape is the tasks×dirs small-file
    * explosion). Explicit partition count (defaultParallelism —
    * cluster-wide cores, scale-adaptive, never a local constant)
    * keeps AQE from re-coalescing the exchange to one task.
    *
    * Applied ONLY to the TWO-LEVEL `(tb, cell)` trees (tenants×cells
    * dirs — ~80 here, unbounded at fleet scale): measured 1.12–1.28×
    * on q191/q192/q195/q198/q201 at sf0.1. The single-level k=8 cell
    * trees were measured BOTH ways and the exchange LOSES there
    * (q204 0.76–0.87×, q193 0.85×, q200 0.92× — a round-trip per
    * write to save ~100 already-parallel small-file creates); at
    * cluster scale a k-cell layout wants (cell, size-bounded salt)
    * distribution — one file per 8-cell dir would be a multi-TB file,
    * the opposite of the 128 MB–1 GB target (guide §6) — so the
    * direct write stays the single-level spelling at every scale and
    * the distribution decision is per-LAYOUT-SHAPE, not global.
    */
  private[graft] def byParts(index: DataFrame, cols: String*): DataFrame =
    index.repartition(
      index.sparkSession.sparkContext.defaultParallelism,
      cols.map(col): _*)

  /** The schemas the stored-IVF sidecar writers produce, declared by
    * their reader ([[graft.core.Fs.readSidecar]]), so no read of a
    * stored layout runs a schema-inference job (the index schema is
    * [[IvfLayout.schema]]).
    */
  private[graft] val CentsSchema =
    StructType.fromDDL("cell BIGINT, centroid ARRAY<DOUBLE>")
  private[graft] val QuerySchema =
    StructType.fromDDL("qv ARRAY<DOUBLE>")
  private[graft] val QueriesSchema =
    StructType.fromDDL("query_id BIGINT, qv ARRAY<DOUBLE>")
  private[graft] val BooksSchema =
    StructType.fromDDL("m INT, cl BIGINT, cvec ARRAY<DOUBLE>")
  private[graft] val TombSchema =
    StructType.fromDDL("vec_id BIGINT")

  /** The sidecar schema of each carried IVF sidecar, by directory name. */
  private[graft] val SidecarSchemas = Map("_cents" -> CentsSchema,
    "_query" -> QuerySchema, "_queries" -> QueriesSchema,
    "_books" -> BooksSchema)

  /** The distinct tombstoned vec_ids under an index root, or None when
    * nothing was ever deleted.
    */
  private[graft] def ivfTombstones(s: SparkSession,
      indexPath: String): Option[DataFrame] = {
    val tombPath = s"$indexPath/_tombstones"
    if (!graft.core.Fs.exists(s, tombPath)) None
    else Some(graft.core.Fs.readSidecar(s, tombPath, TombSchema).distinct())
  }

  /** The cells a stored single-query probe reads: the `_cents` rows in
    * probe order (the first nprobe by (qd2 asc, cell asc)) and the
    * `_query` row they were ranked against (None when the layout
    * stores no query, which probes as empty).
    */
  private[graft] final case class CellPick(picked: Seq[Row],
      query: Option[Row]) {
    def cells: Seq[Long] = picked.map(_.getLong(0))
    /** The query vector as a literal — probes score against it
      * without a broadcast of the `_query` sidecar.
      */
    def qv: Column = org.apache.spark.sql.GraftGlue.column(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        query.map(_.get(0)).orNull,
        ArrayType(
          DoubleType)))
  }

  /** Pick a stored layout's nprobe cells on the driver — the one cell
    * picker every stored single-query probe shares. Both sidecars
    * are read with their writers' schemas (one small job each, no
    * inference job) and the k centroid rows are ranked here with
    * [[graft.functions.VectorMath.dot]]: qd2 = q·q − 2·q·c + c·c in
    * `dot_product`'s operation order, ordered (qd2 asc nulls first,
    * cell asc) under Spark's double ordering — the same cells, in
    * the same order, as the `_cents ⨯ _query → orderBy → limit`
    * spelling it replaces (PipelineOpsSpec pins the equality).
    */
  private[graft] def ivfPickCells(s: SparkSession, root: String,
      nprobe: Int): CellPick = {
    import graft.functions.VectorMath
    val query = graft.core.Fs.readSidecar(s, s"$root/_query", QuerySchema)
      .collect()
    require(query.length <= 1,
      s"$root/_query holds ${query.length} rows; a stored probe takes one")
    val picked = query.headOption.toSeq.flatMap { q =>
      def arr(r: Row, i: Int) =
        if (r.isNullAt(i)) null
        else new org.apache.spark.sql.catalyst.util.GenericArrayData(
          r.getSeq[Any](i).toArray)
      val qa = arr(q, 0)
      def qd2(c: Row): java.lang.Double = {
        val ca = arr(c, 1)
        if (qa == null || ca == null) null
        else {
          val qq = VectorMath.dot(qa, qa)
          val qc = VectorMath.dot(qa, ca)
          val cc = VectorMath.dot(ca, ca)
          if (qq == null || qc == null || cc == null) null
          else qq.doubleValue - 2.0 * qc.doubleValue + cc.doubleValue
        }
      }
      val byRank: Ordering[(java.lang.Double, Row)] = {
        case ((da, ca), (db, cb)) =>
          val byD2 =
            if (da == null || db == null) {
              if (da == null && db == null) 0 else if (da == null) -1 else 1
            } else org.apache.spark.sql.catalyst.util.SQLOrderingUtil
              .compareDoubles(da, db)
          if (byD2 != 0) byD2
          else java.lang.Long.compare(ca.getLong(0), cb.getLong(0))
      }
      graft.core.Fs.readSidecar(s, s"$root/_cents", CentsSchema).collect()
        .toSeq.map(c => (qd2(c), c)).sorted(byRank)
        .map(_._2).take(nprobe)
    }
    CellPick(picked, query.headOption)
  }

  /** Tombstone DELETE for a stored layout — a vector removed upstream
    * (dedup verdict, takedown, TTL) must leave the index WITHOUT
    * rewriting immutable cell files. Deleted ids append to
    * `_tombstones/` under the index root — the underscore prefix makes
    * the directory invisible to Spark's file listing, so
    * [[IvfLayout.read]] of the base layout is untouched and only
    * [[IvfLayout.readLive]] pays the filter. This is the parquet
    * rendition of the LSM delete marker, and the same dead/live split
    * [[graft.operators.Pipeline.resolveDeltas]] models at corpus
    * grain. Payload-agnostic: every layout's tombstones are vec_ids.
    */
  def ivfDelete(ids: DataFrame, path: String): Unit =
    ids.select(col("vec_id").cast("long"))
      .write.mode("append").parquet(s"$path/_tombstones")

  /** q109's per-vector int8 scale (max |v| / 127) and codes
    * (round(v/scale) ∈ [−127, 127], all zero for a zero vector) — the
    * one spelling [[quantizeInt8]] and the SQ8 layout's encoder share.
    */
  private def int8Scale(v: Column): Column =
    array_max(transform(v, x => abs(x))) / lit(127.0)
  private def int8Code(v: Column, scale: Column): Column =
    when(scale === 0.0, transform(v, _ => lit(0L)))
      .otherwise(transform(v, x => round(x / scale).cast("long")))

  /** The member codec of a stored IVF layout: the full-precision
    * embedding, q109's (scale, int8 codes), or PQ codes of the
    * vector's residual against the layout's `_books` codebooks.
    */
  private[graft] sealed trait IvfCodec
  private[graft] object IvfCodec {
    case object Full extends IvfCodec
    case object Sq8 extends IvfCodec
    case object Pq extends IvfCodec
  }

  /** A stored IVF serving layout — single- or multi-tenant × one member
    * codec — and the one owner of its on-disk format:
    *  - the index at `root/index`, written `partitionBy(cell)` or
    *    `partitionBy(tb, cell)`: a probe of nprobe cells is a
    *    partition-pruned scan of those cells' files (under ONE tenant's
    *    `tb=` dir when tenanted — the dense twin of the q175 lexical
    *    layout), and a tenant's offboarding reclaims exactly its own
    *    `tb=` subtree;
    *  - the declared index [[schema]] (partition columns long) every
    *    read uses, so no read of a stored layout runs an inference job;
    *  - the member encoding ([[encode]]): the embedding, q109's (scale,
    *    byte codes — parquet BYTEs hold them losslessly and dequantize
    *    to q136's bits), or 4 PQ code bytes (q149's residual codes);
    *  - the sidecars: the k-row `_cents` quantizer and the `_query`
    *    payload (stand-in for the request a service gets over the
    *    wire), plus q165's `_queries` batch for the full single-tenant
    *    layout and the four residual codebooks `_books` for PQ;
    *  - the scorer: cosine over the stored (or dequantized) vector,
    *    or the 4-term ADC lookup sum over the stored codes.
    * Build, append and the maintenance stream all encode through the
    * same per-row kernel against the layout's FROZEN quantizers, so a
    * member is byte-identical whichever path landed it and arrival
    * order is invisible to probes (q198/q200/q202's law). Tenant
    * isolation is exact by construction: cell assignment and codes
    * are per-row functions of the vector, so a tenant's probe equals
    * one over its vectors alone (q191/q195/q201's law).
    */
  private[graft] final case class IvfLayout(tenants: Boolean,
      codec: IvfCodec) {
    import IvfCodec._

    /** Partition columns, tenant first. Only the two-level trees
      * hash-distribute before a write — [[byParts]]'s measured rule.
      */
    val parts: Seq[String] = if (tenants) Seq("tb", "cell") else Seq("cell")

    /** The index schema the writers produce, partition columns long. */
    val schema: StructType = StructType.fromDDL((codec match {
      case Full => Seq("vec_id BIGINT", "embedding ARRAY<FLOAT>")
      case Sq8 => Seq("vec_id BIGINT", "scale DOUBLE", "code ARRAY<TINYINT>")
      case Pq => Seq("vec_id BIGINT", "code ARRAY<TINYINT>")
    }) ++ parts.map(p => s"$p BIGINT") mkString ", ")

    /** ServingBench's key for the layout (`ivf`, `ivf_tenant_sq8`, …). */
    def name: String = "ivf" + (if (tenants) "_tenant" else "") +
      (codec match { case Full => ""; case Sq8 => "_sq8"; case Pq => "_pq" })

    private def tbCols: Seq[Column] =
      if (tenants) Seq(col("tb").cast("long").as("tb")) else Nil
    private def tbNames: Seq[String] = if (tenants) Seq("tb") else Nil

    /** Persist encoded members under `path` (overwrite or append). */
    def write(index: DataFrame, path: String,
        mode: String = "overwrite"): Unit =
      (if (tenants) byParts(index, parts: _*) else index)
        .write.mode(mode).partitionBy(parts: _*).parquet(path)

    def read(s: SparkSession, path: String): DataFrame =
      s.read.schema(schema).parquet(path)

    /** The serving read: base+delta files MINUS tombstones. The
      * anti-join broadcasts the tombstone set (bounded by
      * deletes-since-compaction — a deployment [[compact]]s before it
      * outgrows the broadcast threshold, the LSM discipline) and sits
      * ABOVE the scan, so a probe's partition pruning still reads only
      * the probed cells' files (PipelineOpsSpec proves this via the
      * scan's numFiles metric).
      */
    def readLive(s: SparkSession, path: String): DataFrame = {
      val idx = read(s, path)
      // existence resolves through the path's OWN FileSystem — a
      // java.io.File check is silently false for hdfs://s3a:// roots,
      // which would serve deleted vectors as live
      ivfTombstones(s, path).fold(idx)(t =>
        idx.join(broadcast(t), Seq("vec_id"), "left_anti"))
    }

    /** (vec_id, embedding[, tb]) rows as stored members against frozen
      * quantizers: one zero-shuffle projection computing the cell (the
      * centroid rows as a literal inside `nearest_centroid`) and the
      * payload; PQ adds one broadcast of the four packed codebooks.
      */
    private def encodeWith(emb: DataFrame, q: Quantizer,
        books: Option[DataFrame]): DataFrame = codec match {
      case Full => ivfAssign(emb, q, tbCols: _*)
      case Sq8 =>
        val v = vec(col("embedding"))
        emb.select((col("vec_id") +: tbCols) ++
            Seq(v.as("v"), int8Scale(v).as("scale")): _*)
          .select((Seq(col("vec_id"), col("scale"),
            transform(int8Code(col("v"), col("scale")), _.cast("byte"))
              .as("code")) ++ tbNames.map(col) :+
            q.cellOf(col("v")).as("cell")): _*)
      case Pq =>
        pqEncode(pqResiduals(ivfAssign(emb, q, tbCols: _*), q, tbNames),
          books.get, tbNames)
    }

    /** Full and SQ8 members' vectors as `mv` (array<double>): the
      * stored embedding, or the codes dequantized (code·scale) inside
      * the scan's projection — one column the scorer reads three times.
      */
    private[operators] def withVec(df: DataFrame): DataFrame =
      df.withColumn("mv", if (codec == Full) vec(col("embedding"))
        else transform(col("code"), c => c.cast("double") * col("scale")))

    /** Encode NEW rows against the layout's frozen `_cents` (and
      * `_books`) — the one kernel the batch [[append]] and the
      * maintenance stream's add leg write.
      */
    def encode(s: SparkSession, root: String, emb: DataFrame): DataFrame =
      encodeWith(emb, ivfQuantizer(s, root), Option.when(codec == Pq)(
        graft.core.Fs.readSidecar(s, s"$root/_books", BooksSchema)))

    /** Retrain-free APPEND (FAISS's `add` on the at-rest form): files
      * are created only under the cells (and tenants) the batch
      * touches, untouched cells' files are never rewritten, and the
      * appended layout equals a full build over the union. Quantizer
      * drift under sustained appends is the retrain trigger (rebuild
      * when q102's avg_d2 census degrades).
      */
    def append(s: SparkSession, root: String, emb: DataFrame): Unit =
      write(encode(s, root, emb), s"$root/index", "append")

    /** Build the serving root from the corpus at `dir`: train the
      * coarse quantizer once ([[ivfTrain]], unless `pre` is one the
      * caller trained on the same trajectory — q204 shares one across
      * three layouts), encode the members (`members` restricts which
      * vectors land — training always sees the whole corpus, so a
      * layout built over a subset and [[append]]-completed equals the
      * full build), and write the index and the sidecars as
      * [[graft.core.Par.all]] legs (run one after another, q193's
      * build+probe measured 1.25–1.3× slower). The SQ8 index is ONE
      * projection computing cell and codes; PQ checkpoints the
      * residuals once — they train the four codebooks in one exploded
      * pass ([[pqTrainBooks]]) and are encoded against them.
      */
    def build(s: SparkSession, dir: String, root: String,
        pre: Option[Quantizer] = None, members: Column = lit(true)): Unit = {
      val emb = embCached(s, dir)
      val q = pre.getOrElse(ivfTrain(emb, k = 8, iters = 2))
      val src = emb.select((col("vec_id") +: col("embedding") +:
        (if (tenants) Seq(col("label").cast("long").as("tb")) else Nil)): _*)
      val (index, books) = codec match {
        case Pq =>
          val withRes = pqResiduals(ivfAssign(src, q, tbCols: _*), q,
            tbNames).localCheckpoint()
          val trained = pqTrainBooks(withRes).localCheckpoint()
          (pqEncode(withRes.filter(members), trained, tbNames), Some(trained))
        case _ => (encodeWith(src.filter(members), q, None), None)
      }
      def side(df: DataFrame, name: String): () => Unit =
        () => df.write.mode("overwrite").parquet(s"$root/$name")
      graft.core.Par.all(s, Seq(() => write(index, s"$root/index"),
          side(q.frame(s), "_cents")) ++
        books.map(b => side(b.select("m", "cl", "cvec"), "_books")) ++
        Seq(side(emb.filter(col("vec_id") === 0)
          .select(vec(col("embedding")).as("qv")), "_query")) ++
        Option.when(codec == Full && !tenants)(side(
          emb.filter(col("vec_id").isin(AnnBatchIds: _*)).select(
            col("vec_id").as("query_id"), vec(col("embedding")).as("qv")),
          "_queries")))
    }

    /** The probe-only serving path — what a query costs once the layout
      * exists: [[ivfPickCells]] ranks the k `_cents` rows on the driver
      * (≤nprobe cells — the index filter carries LITERALS the planner
      * prunes partitions with, under tenant `tb` when tenanted), then
      * the live members of those cells are scored: exact cosine
      * against the stored (full) or dequantized-in-scan (SQ8) vector,
      * ranked round(cos, 6) desc — q128/q136's rule; or the fixed-order
      * 4-term ADC lookup sum over the stored PQ codes against per-cell
      * tables from `_books` and the query's per-cell residual, ranked
      * dround(adc, 6) asc — q149's rule, no vector arithmetic per
      * candidate. Answers equal the in-query compositions (same oracle
      * SQL): compression changes the bytes read, never the ranking.
      */
    def probe(s: SparkSession, root: String, tb: Option[Long] = None,
        nprobe: Int = 3, k: Int = 10,
        excludeVecId: Option[Long] = None): DataFrame = {
      require(tb.isDefined == tenants,
        s"a $name probe takes ${if (tenants) "one" else "no"} tenant")
      val pick = ivfPickCells(s, root, nprobe)
      val inCells = col("cell").isin(pick.cells: _*)
      val scan = readLive(s, s"$root/index")
        .filter(tb.fold(inCells)(t => col("tb") === t && inCells))
      val cand = excludeVecId.fold(scan)(id => scan.filter(col("vec_id") =!= id))
      codec match {
        case Pq =>
          pqAdcRank(cand, pqTabs(s.createDataFrame(
              java.util.Arrays.asList(pick.picked: _*), CentsSchema)
            .select(col("cell"), col("centroid"), pick.qv.as("qv")),
            graft.core.Fs.readSidecar(s, s"$root/_books", BooksSchema),
            "cell"), k)
        case _ =>
          withVec(cand).withColumn("cos", cosine(col("mv"), pick.qv))
            .select(col("vec_id"), col("cell"), round(col("cos"), 6).as("cos"))
            .orderBy(round(col("cos"), 6).desc, col("vec_id").asc)
            .limit(k)
      }
    }

    /** Purge an ENTIRE tenant — the dense twin of
      * TextAnalysis.bm25PurgeTenant (offboarding / right-to-erasure):
      * every live vector of the tenant is tombstoned in one append, so
      * the tenant is unservable immediately; the next [[compact]]
      * drops the bytes and the tenant's whole `tb=` subtree. No corpus
      * stats to repair (cosine and ADC rankings have no N/avgdl), so a
      * re-run finds zero live victims and appends nothing. The victim
      * scan prunes to the tenant's own `tb=` dirs.
      */
    def purge(s: SparkSession, root: String, tb: Long): Unit = {
      require(tenants, s"$name has no tenants to purge")
      readLive(s, s"$root/index").filter(col("tb") === tb)
        .select(col("vec_id"))
        .write.mode("append").parquet(s"$root/index/_tombstones")
    }

    /** Fold tombstones into the files: rewrite the LIVE rows as a fresh
      * index at `dest` (no `_tombstones` — the deleted rows, and a
      * purged tenant's `tb=` dirs, are physically gone). A NEW root
      * because overwriting a path while reading it is undefined; the
      * caller swaps serving roots atomically ([[graft.core.Roots]]).
      * Payloads move untouched — codes are frozen-quantizer pure, so
      * compaction never re-encodes.
      */
    def compact(s: SparkSession, path: String, dest: String): Unit =
      write(readLive(s, path), dest)
  }

  private[graft] object IvfLayout {
    /** The six stored layouts: {single, tenant} × {full, SQ8, PQ}. */
    val all: Seq[IvfLayout] = for (t <- Seq(false, true);
      c <- Seq(IvfCodec.Full, IvfCodec.Sq8, IvfCodec.Pq)) yield IvfLayout(t, c)
  }

  /** The full-precision single-tenant layout — the one with the
    * `_queries` batch sidecar ([[ivfProbeStoredBatch]]).
    */
  private[graft] val FullLayout = IvfLayout(tenants = false, IvfCodec.Full)

  /** The full-precision layout's probe for a QUERY BATCH — the serving
    * form of q165: per-query nprobe cells from the broadcast
    * centroid×queries product (per-query window, q128's rules), the
    * UNION of probed cells collected to a bounded ≤|queries|·nprobe
    * literal list so the index scan still prunes partitions
    * statically, then ONE cell→query fan-out join and one per-query
    * top-k window. Query vectors themselves are excluded from results
    * (q165's contract — its answer on an un-deleted layout equals
    * q165's); tombstones honored via [[IvfLayout.readLive]].
    */
  def ivfProbeStoredBatch(s: SparkSession, root: String, nprobe: Int = 3,
      k: Int = 10): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val qs = broadcast(
      graft.core.Fs.readSidecar(s, s"$root/_queries", QueriesSchema))
    val pickW = Window.partitionBy($"query_id")
      .orderBy($"qd2".asc, $"cell".asc)
    val probe = broadcast(graft.core.Fs.readSidecar(s, s"$root/_cents",
        CentsSchema).crossJoin(qs)
      .withColumn("qd2", dot($"qv", $"qv")
        - lit(2.0) * dot($"qv", $"centroid")
        + dot($"centroid", $"centroid"))
      .withColumn("rk", row_number().over(pickW))
      .filter($"rk" <= nprobe)
      .select($"query_id", $"qv", $"cell"))
    // bounded driver list (the hotKeys class): literal cell filter so
    // the partitioned scan prunes statically for the whole batch
    val cells = probe.select($"cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val topW = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"vec_id".asc)
    FullLayout.readLive(s, s"$root/index")
      .filter($"cell".isin(cells: _*))
      .join(broadcast(qs.select($"query_id".as("vec_id"))),
        Seq("vec_id"), "left_anti")
      .join(probe, "cell")
      .withColumn("cos", round(cosine(vec($"embedding"), $"qv"), 6))
      .select($"query_id", $"vec_id", $"cell", $"cos")
      .withColumn("rk", row_number().over(topW))
      .filter($"rk" <= k).drop("rk")
      .orderBy($"query_id".asc, $"cos".desc, $"vec_id".asc)
  }

  /** Per-cell dead/total member census — the IVF twin of
    * TextAnalysis.bm25DeadByBucket (q172's skew view on the dense
    * layout): cell files are fixed-grain rows, so the dead-row
    * fraction per cell is the reclaimable-byte fraction, and one hot
    * cell can be mostly dead while the layout average looks healthy.
    * One scan + a broadcast tombstone join, grouped to ≤k rows;
    * spec-pinned to sum to the q172 census's ivf row.
    */
  def ivfDeadByCell(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    val base = FullLayout.read(s, path)
    val flagged = ivfTombstones(s, path).fold(
        base.withColumn("is_dead", lit(0L)))(t => base.join(
      broadcast(t.withColumn("is_dead", lit(1L))), Seq("vec_id"), "left"))
    flagged
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_total"),
        sum(coalesce($"is_dead", lit(0L))).as("n_dead"))
      .orderBy($"cell".asc)
  }

  // --- q191/q192: multi-tenant IVF serving layout + tenant purge --------------
  /** The two dense tenants the q191/q192 oracles replay (`tb` = the
    * embeddings' label values — the per-customer / per-collection tag
    * a shared vector fleet shards by). All ten labels live in the
    * layout; the oracle probes two.
    */
  private[graft] val IvfTenants: Seq[Long] = Seq(0L, 1L)

  /** Deterministic temp root for a stored-IVF oracle row (the
    * bm25TempIndexPath discipline on the dense side), deleted when the
    * JVM exits.
    */
  private[graft] def ivfTempRoot(s: SparkSession, dir: String,
      suffix: String): String =
    graft.core.Fs.deleteOnExit(s,
      s"${System.getProperty("java.io.tmpdir")}/graft_ivfidx_${
        java.lang.Integer.toHexString(dir.hashCode)}$suffix")

  /** Both [[IvfTenants]]' probes off one tenant layout as one frame,
    * excluding the query vector, tagged and ordered by tenant.
    */
  private def tenantProbes(s: SparkSession, layout: IvfLayout,
      root: String): DataFrame = {
    val probes = IvfTenants.map { tb =>
      layout.probe(s, root, Some(tb), excludeVecId = Some(0L))
        .withColumn("tenant", lit(tb))
    }.reduce(_ unionByName _)
    probes.orderBy(col("tenant").asc +: (layout.codec match {
      case IvfCodec.Pq => Seq(graft.core.Exact.dround(col("adc_d2"), 6).asc)
      case _ => Seq(col("cos").desc)
    }) :+ col("vec_id").asc: _*)
  }

  /** Build + two tenants' probes as one oracle row — the dense twin
    * of q175: each tenant's ranking from the SHARED `partitionBy(tb,
    * cell)` layout must equal q128's probe restricted to that
    * tenant's vectors (isolation under the hash gate — cell
    * assignment is per-row, so a neighbor tenant's vectors can never
    * enter the ranking).
    *
    * Exactness: q128's trained trajectory + rounded-cosine rule; the
    * oracle replays it with `label` carried through and tops-10 per
    * tenant. Scale shape: one training pass shared by all tenants;
    * each probe reads ≤nprobe cell dirs under ONE tenant dir.
    */
  def q191IvfTenantProbe(s: SparkSession, dir: String): DataFrame = {
    val layout = IvfLayout(tenants = true, IvfCodec.Full)
    val root = ivfTempRoot(s, dir, "_tenants")
    layout.build(s, dir, root)
    tenantProbes(s, layout, root)
  }

  /** Purge-then-prove on the dense layout — the twin of q180: purge
    * tenant `IvfTenants(1)`, probe BOTH tenants through the live
    * view; the survivor's ranking must equal its q191 leg (isolation
    * survives the neighbor's erasure) and the purged tenant must
    * contribute ZERO rows — the oracle carries only survivor rows, so
    * any leaked row fails the row-count gate. PipelineOpsSpec adds
    * the physics: the purged tenant's live view is empty, the purge
    * re-runs idempotently, and compaction drops its `tb=` subtree.
    */
  def q192IvfTenantPurge(s: SparkSession, dir: String): DataFrame = {
    val layout = IvfLayout(tenants = true, IvfCodec.Full)
    val root = ivfTempRoot(s, dir, "_tpurge")
    layout.build(s, dir, root)
    layout.purge(s, root, IvfTenants(1))
    tenantProbes(s, layout, root)
  }

  // --- q198: tenant layout built by the MAINTENANCE STREAM ---------------------
  /** The tenant layout's streaming-ingest leg under the oracle gate:
    * train the corpus-wide quantizer once (sidecars written, index
    * EMPTY), then let the WHOLE corpus arrive as two CRUD
    * micro-batches through [[graft.streaming.IvfMaintain.applyBatch]]
    * (the staged exactly-once publish, `partitionBy(tb, cell)`), and
    * probe both tenants off the stream-built layout. The answer must
    * equal q191's batch-built layout (same oracle SQL): frozen-centroid
    * assignment is a pure per-row function, so arrival order and
    * batch boundaries are invisible to probes — the law that makes
    * streaming ingest SAFE for a serving fleet.
    *
    * Scale shape: per batch one zero-shuffle assignment projection
    * (k centroid rows as a literal) + a staged write touching only the
    * batch's (tenant, cell) dirs; probes stay two-level pruned.
    * StreamingSpec adds the live-stream twin (MemoryStream feed,
    * stream==batch parity, purge-del rows, replay refusal).
    */
  def q198IvfTenantMaintain(s: SparkSession, dir: String): DataFrame =
    maintainedByStream(s, dir, IvfLayout(tenants = true, IvfCodec.Full),
      "_tmaint")

  /** Build `layout` with no members, then feed the whole corpus as
    * two add micro-batches through the maintenance stream's batch
    * body and probe — q198's and q202's shared arrival-law row. The
    * root is reset first: a bench rep re-running the query must not
    * have its batches refused as replays.
    */
  private def maintainedByStream(s: SparkSession, dir: String,
      layout: IvfLayout, suffix: String): DataFrame = {
    import s.implicits._
    val root = ivfTempRoot(s, dir, suffix)
    graft.core.Fs.deleteRecursive(s, root)
    layout.build(s, dir, root, members = lit(false))
    val emb = embCached(s, dir)
    val half = broadcast(
      emb.agg(floor(max($"vec_id") / 2).cast("long").as("split")))
    val feed = emb.crossJoin(half)
      .select(lit("add").as("op"), $"vec_id", $"embedding",
        $"label".cast("long").as("tb"), $"split")
    Seq(feed.filter($"vec_id" <= $"split"), feed.filter($"vec_id" > $"split"))
      .zipWithIndex.foreach { case (b, i) =>
        graft.streaming.IvfMaintain.applyBatch(layout, b.drop("split"),
          i.toLong, root)
      }
    if (layout.tenants) tenantProbes(s, layout, root)
    else layout.probe(s, root, excludeVecId = Some(0L))
  }

  // --- q193: compressed-at-rest IVF-SQ8 serving layout -------------------------
  /** The COMPRESSED serving root under the oracle gate — q136's IVF-SQ8
    * composition persisted: the index stores (vec_id, scale, code[64]
    * as BYTES, cell) — the embedding column never reaches disk,
    * cutting index bytes ~4× (64 B codes + 8 B scale vs 256 B of
    * float32, before encoding). This is the layout FAISS ships as
    * IVFx,SQ8 and the actual 100 TB win: probe cost is dominated by
    * index bytes on disk and over the wire, and those shrink 4× at
    * unchanged file counts (ServingBench measures exactly that).
    * Build, then probe through the stored bytes — must hash-equal q136
    * (same oracle SQL), proving at-rest quantization is invisible to
    * answers.
    */
  def q193IvfSq8Stored(s: SparkSession, dir: String): DataFrame =
    storedProbe(s, dir, IvfLayout(tenants = false, IvfCodec.Sq8), "_sq8")

  /** Build a single-tenant `layout` under a temp root and probe it,
    * excluding the query vector — q193/q197's build+probe row.
    */
  private def storedProbe(s: SparkSession, dir: String, layout: IvfLayout,
      suffix: String): DataFrame = {
    val root = ivfTempRoot(s, dir, suffix)
    layout.build(s, dir, root)
    layout.probe(s, root, excludeVecId = Some(0L))
  }

  // --- q195: multi-tenant × compressed-at-rest IVF (the full production shape) -
  /** Build + two tenants' probes over the compressed shared layout as
    * one oracle row — the layout a shared vector fleet actually
    * deploys (q191's tenant isolation AND q193's ~4× at-rest cut in
    * one tree): each tenant's ranking must equal the SQ8 probe over
    * its vectors alone (cell assignment and codes are both per-row,
    * so neither compression nor co-tenancy can leak a neighbor's
    * rows).
    */
  def q195IvfTenantSq8(s: SparkSession, dir: String): DataFrame = {
    val layout = IvfLayout(tenants = true, IvfCodec.Sq8)
    val root = ivfTempRoot(s, dir, "_tsq8")
    layout.build(s, dir, root)
    tenantProbes(s, layout, root)
  }

  // --- q194: IVF compact + atomic root swap, probed end to end ---------------
  /** The dense twin of q173 — the generation-pointer machinery under
    * the ORACLE gate, not just specs: build the serving root at gen0,
    * publish, tombstone the q158 victims (vec_id ≡ 3 mod 7) in the
    * CURRENT generation, probe THROUGH the [[graft.core.Roots]]
    * pointer (stage `tombstoned` — the anti-join pays per query),
    * then [[graft.streaming.IvfMaintain.compactAndSwap]] into gen1
    * (index rewritten live-only, `_cents`/query sidecars carried —
    * centroids do not change on compaction) and probe through the
    * pointer again (stage `compacted` — dead rows physically gone).
    * BOTH stages must equal a probe over the index WITHOUT the
    * victims: the tombstone view and the compacted view are one
    * logical index, so the swap is invisible to answers.
    *
    * Exactness: q128's trained trajectory (the full corpus trains the
    * quantizer; deletion removes MEMBERS, never retrains) + the
    * integer victim predicate; the oracle replays it once and tags
    * both stages. Scale shape: q128's training stages + one
    * partition-preserving compaction rewrite (the cost q172's census
    * decides to pay); each probe reads ≤nprobe cells' files; the swap
    * is one atomic rename.
    */
  def q194IvfCompactSwap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = ivfTempRoot(s, dir, "_swap")
    graft.core.Fs.deleteRecursive(s, base)
    FullLayout.build(s, dir, s"$base/gen0")
    graft.core.Roots.publish(s, base, "gen0")
    ivfDelete(
      embCached(s, dir).filter($"vec_id" % 7 === 3).select($"vec_id"),
      s"${graft.core.Roots.current(s, base)}/index")
    // EAGER checkpoint: freeze the tombstone-view answer before the
    // swap mutates what the pointer resolves to (q173's rule)
    val tombstoned = FullLayout.probe(s, graft.core.Roots.current(s, base),
        excludeVecId = Some(0L))
      .withColumn("stage", lit("tombstoned"))
      .localCheckpoint(true)
    graft.streaming.IvfMaintain.compactAndSwap(s, base, FullLayout)
    tombstoned.unionByName(
      FullLayout.probe(s, graft.core.Roots.current(s, base),
        excludeVecId = Some(0L))
        .withColumn("stage", lit("compacted")))
  }

  /** Point-in-time probe: the full-precision probe pinned to generation
    * `gen` under a [[graft.core.Roots]] base — the audit/repro read
    * ("what did the index answer before yesterday's compaction?")
    * that composes q184's point-in-time law with the q173 root-swap
    * machinery. Works on any retired-but-retained generation;
    * a generation past retention fails loudly (Roots.at).
    */
  def ivfProbeAt(s: SparkSession, base: String, gen: String,
      nprobe: Int = 3, k: Int = 10,
      excludeVecId: Option[Long] = None): DataFrame =
    FullLayout.probe(s, graft.core.Roots.at(s, base, gen),
      nprobe = nprobe, k = k, excludeVecId = excludeVecId)

  // --- q177: semantic train/eval contamination census -------------------------
  /** The EMBEDDING-level decontamination screen (q55 is the lexical
    * 13-gram one — paraphrased or reformatted eval leakage passes it;
    * this catches what embeds nearby): for every eval-set vector, the
    * nearest train-set cosine, censused into 10 similarity bands with
    * a flagged count at the τ=0.95 leak threshold — the report a
    * training run reads before trusting its eval numbers. The eval
    * set here is the FIXED-SIZE deterministic sample
    * [[evalSampleIds]] (the [[EvalSampleN]] smallest md5(vec_id) —
    * a benchmark is O(hundreds) of items by contract, and a
    * corpus-proportional stand-in would make the exact screen
    * quadratic; a deployment passes its real benchmark set).
    *
    * Exactness: per-pair cosines round to 6 (q29's class, undefined
    * cosines coalesce to −2 so zero-norm junk ranks lowest instead of
    * NULL-vanishing), the per-eval max is over identical doubles, and
    * banding runs on the INTEGER-scaled max (div after clamping —
    * trunc-vs-floor divergence on negatives is clamped into band 0 in
    * both engines).
    *
    * Scale shape: the eval set BROADCASTS (fixed size), the train
    * side spreads round-robin before the nested-loop score
    * ([[maxCosPairs]] — the r13 spelling's corpus-proportional eval
    * set plus a one-split train table measured 55 s at gsf1 on one
    * core; bounding |eval| makes the screen LINEAR in the corpus and
    * the repartition makes it cluster-wide), map-combined per-eval
    * max; the census is a 10-row spine join. For screens that must
    * scan the nearest neighbor across the WHOLE corpus rather than a
    * benchmark, the LSH-prefiltered candidate set (q30/q31's
    * machinery) is the corpus-scale path — this is the exact-evidence
    * form those candidates feed.
    */
  /** Per-eval max train cosine: broadcast eval set (bounded by the
    * benchmark contract — use [[evalSampleIds]] for the fixed-size
    * stand-in) × ONE round-robin-spread projection over the train
    * side, map-combined per-eval max. The explicit repartition
    * matters: a small-footprint train table can arrive as ONE parquet
    * split, and a nested-loop score of |train|·|eval| pairs on one
    * core was the 55 s-at-gsf1 failure mode — spreading to the
    * session's shuffle width costs one narrow exchange of the
    * (tv, tvn) projection and buys full-cluster scoring. (An in-row
    * `transform` over a packed eval array was measured WORSE —
    * higher-order lambdas evaluate interpreted per element, and this
    * kernel is all arithmetic.) Arithmetic per pair: dot, try_divide,
    * round 6, undefined → −2 — unchanged from the q177 oracle.
    */
  private[graft] def maxCosPairs(train: DataFrame,
      eval: DataFrame): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    // the conf can be non-numeric on AQE-managed deployments ("auto");
    // fall back to the cluster's default parallelism rather than throw
    val width = scala.util.Try(
      s.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(s.sparkContext.defaultParallelism).max(1)
    train.repartition(width).crossJoin(broadcast(eval))
      .groupBy($"eval_id")
      .agg(max(coalesce(
        round(try_divide(dot($"tv", $"ev"), $"tvn" * $"evn"), 6),
        lit(-2.0))).as("max_cos"))
  }

  /** Fixed benchmark-sample size for q177/q181 (and any screen using
    * [[evalSampleIds]]): large enough for a 10-band census, small
    * enough that |train|·|eval| exact scoring stays linear-in-corpus.
    */
  private[graft] val EvalSampleN: Int = 256

  /** The fixed-size benchmark-sample stand-in: the `n` vec_ids with
    * the smallest md5(vec_id) — a deterministic pseudo-random draw
    * whose SIZE does not grow with the corpus, which is what makes
    * the exact contamination screen linear in the corpus instead of
    * quadratic (|train|·|eval| with |eval| = O(n)). One
    * TakeOrderedAndProject over an id projection; the result
    * broadcasts.
    */
  private[graft] def evalSampleIds(ids: DataFrame, n: Int): DataFrame = {
    import ids.sparkSession.implicits._
    ids.select(col(ids.columns.head).as("eval_id"))
      .withColumn("h", md5($"eval_id".cast("string")))
      .orderBy($"h".asc, $"eval_id".asc).limit(n)
      .select($"eval_id")
  }

  def q177SemanticContamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embCached(s, dir)
    val ids = broadcast(evalSampleIds(emb.select($"vec_id"), EvalSampleN))
    // norms precompute ONCE per side (identical doubles to a per-pair
    // sqrt — same inputs, same ops — at a third of the pair flops)
    val eval = emb.join(ids, $"vec_id" === $"eval_id")
      .select($"eval_id", vec($"embedding").as("ev"))
      .withColumn("evn", sqrt(dot($"ev", $"ev")))
    val train = emb.join(ids, $"vec_id" === $"eval_id", "left_anti")
      .select(vec($"embedding").as("tv"))
      .withColumn("tvn", sqrt(dot($"tv", $"tv")))
    val perEval = maxCosPairs(train, eval)
    val banded = perEval.select(
      greatest(lit(0L), least(lit(9L),
        expr("CAST(ROUND(max_cos * 1000000) AS BIGINT) div 100000")))
        .as("band"),
      when($"max_cos" >= 0.95, 1L).otherwise(0L).as("fl"))
    s.range(0, 10).select($"id".as("band"))
      .join(banded, Seq("band"), "left")
      .groupBy($"band")
      .agg(count($"fl").as("n_eval"),
        coalesce(sum($"fl"), lit(0L)).as("n_flagged"))
      .orderBy($"band".asc)
  }

  // --- q178: embedding-space drift census (per-cell PSI) ----------------------
  /** The DENSE drift monitor — q176's PSI over the quantizer's OWN
    * partition of embedding space instead of a scalar's band spine:
    * train the coarse quantizer on the earlier snapshot (vec_id ≤
    * max/2 — yesterday's index, q139's split), assign BOTH snapshots
    * against the frozen centroids, and compare per-cell occupancy
    * with the same Laplace-smoothed PSI terms. This is the alarm a
    * serving fleet reads for "did the corpus move out from under the
    * trained quantizer" — the documented retrain trigger (see
    * [[IvfLayout.append]]) turned into a per-cell report: a cell whose share
    * collapsed or exploded names WHERE the distribution moved, and
    * Σ psi_term against the 0.1/0.2 thresholds is the fleet rule.
    *
    * Exactness: the trajectory is q102's integer-snapped Lloyd
    * (bit-parity d2, smallest-cell ties), counts are exact integers,
    * and the PSI terms are q176's class — Laplace-smoothed ratios of
    * integers, LN of a ratio of integer products, identical doubles
    * in both engines, dround(6).
    *
    * Scale shape: q139's training stages (zero-shuffle assignment
    * projections over the checkpointed train set, one k-row
    * aggregation per round) + ONE zero-shuffle assignment projection
    * over the full corpus folding straight into a k-row census;
    * everything after is 8-row arithmetic on a broadcast totals row.
    */
  def q178EmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embCached(s, dir)
    val half = broadcast(
      emb.agg(floor(max($"vec_id") / 2).cast("long").as("split")))
    val base = emb.crossJoin(half).filter($"vec_id" <= $"split")
      .select($"vec_id", $"embedding")
    val q = ivfTrain(base, k = 8, iters = 2)
    // ONE assignment pass over both snapshots; the snapshot tag is
    // recovered from vec_id, so the census is a single k-row aggregation
    val counts = ivfAssign(emb, q)
      .crossJoin(half)
      .select($"cell",
        when($"vec_id" <= $"split", 1L).otherwise(0L).as("in_a"))
      .groupBy($"cell")
      .agg(sum($"in_a").as("n_a0"),
        (count(lit(1)) - sum($"in_a")).as("n_b0"))
    val full = s.range(1, 9).select($"id".as("cell"))
      .join(broadcast(counts), Seq("cell"), "left")
      .select($"cell", coalesce($"n_a0", lit(0L)).as("n_a"),
        coalesce($"n_b0", lit(0L)).as("n_b"))
    val tot = broadcast(full.agg(sum($"n_a").as("ta"),
      sum($"n_b").as("tb")))
    full.crossJoin(tot)
      .select($"cell", $"n_a", $"n_b",
        graft.core.Exact.dround(
          ($"n_a" + 1).cast("double") / ($"ta" + 8).cast("double"), 6)
          .as("p_a"),
        graft.core.Exact.dround(
          ($"n_b" + 1).cast("double") / ($"tb" + 8).cast("double"), 6)
          .as("p_b"),
        graft.core.Exact.dround(
          ((($"n_a" + 1).cast("double") / ($"ta" + 8).cast("double"))
            - (($"n_b" + 1).cast("double") / ($"tb" + 8).cast("double")))
          * log((($"n_a" + 1).cast("double") * ($"tb" + 8).cast("double"))
            / (($"n_b" + 1).cast("double") * ($"ta" + 8).cast("double"))),
          6).as("psi_term"))
      .orderBy($"cell".asc)
  }

  // --- q179: IVF recall-vs-nprobe curve ---------------------------------------
  /** The quality-vs-cost curve every ANN deployment publishes next to
    * its latency numbers: recall@10 of the q128 probe against the
    * exact brute-force answer, swept over nprobe = 1..k, with the
    * probe's COST (members the pruned scan touches) on the same row.
    * ServingBench measures the serving path's bytes; this row makes
    * the recall those bytes buy an ORACLE-CHECKED number instead of a
    * spec-only one (PipelineOpsSpec's recall census stays as the
    * layout-level half). Reading the row left to right answers the
    * fleet's tuning question: the smallest nprobe whose recall
    * clears the SLO.
    *
    * Exactness: the trajectory is q102's integer-snapped Lloyd; probe
    * order is q128's rule (qd2 asc, cell asc) as a FULL ranking;
    * per-candidate cosines round to 6 before ranking (vec_id-asc
    * ties); recall is an integer count over 10.
    *
    * Scale shape: the sweep does NOT rescan the index per nprobe —
    * ONE scored pass folds into per-cell top-10s (≤10·k rows, since
    * the top-10 of any cell union is inside the union of per-cell
    * top-10s), and the 8-point sweep, the exact baseline, and the
    * hit counts are all windows over that ≤80-row frame. Cost comes
    * from the k-row cell-size census. Single-partition windows are
    * fine at ≤80 rows.
    */
  def q179RecallCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = embCached(s, dir)
    val (idx, cents) = ivfLearned(emb, k = 8, iters = 2)
    val q = broadcast(emb.filter($"vec_id" === 0)
      .select(vec($"embedding").as("qv")))
    val cellRank = broadcast(cents.crossJoin(q)
      .withColumn("qd2", dot($"qv", $"qv")
        - lit(2.0) * dot($"qv", $"centroid")
        + dot($"centroid", $"centroid"))
      .withColumn("prk", row_number().over(
        Window.orderBy($"qd2".asc, $"cell".asc)))
      .select($"cell", $"prk"))
    val members = idx.filter($"vec_id" =!= 0).join(cellRank, "cell")
    // per-cell top-10: the only data-sized pass; ≤10·k rows out
    val perCell = members.crossJoin(q)
      .withColumn("cos", round(cosine(vec($"embedding"), $"qv"), 6))
      .withColumn("crk", row_number().over(Window.partitionBy($"cell")
        .orderBy($"cos".desc, $"vec_id".asc)))
      .filter($"crk" <= 10)
      .select($"vec_id", $"cos", $"prk")
      .localCheckpoint(false) // feeds baseline + 8 sweep points once
    val exact = perCell
      .withColumn("erk", row_number().over(
        Window.orderBy($"cos".desc, $"vec_id".asc)))
      .filter($"erk" <= 10)
      .select($"vec_id", lit(1L).as("is_exact"))
    val spine = s.range(1, 9).select($"id".as("nprobe"))
    val hits = perCell.join(spine, $"prk" <= $"nprobe")
      .withColumn("rk", row_number().over(Window.partitionBy($"nprobe")
        .orderBy($"cos".desc, $"vec_id".asc)))
      .filter($"rk" <= 10)
      .join(broadcast(exact), Seq("vec_id"), "left")
      .groupBy($"nprobe")
      .agg(coalesce(sum($"is_exact"), lit(0L)).as("n_hits"))
    val cost = spine
      .join(members.groupBy($"cell", $"prk").agg(count(lit(1)).as("nm")),
        $"prk" <= $"nprobe")
      .groupBy($"nprobe").agg(sum($"nm").as("n_scanned"))
    spine.join(broadcast(hits), Seq("nprobe"), "left")
      .join(broadcast(cost), Seq("nprobe"), "left")
      .select($"nprobe",
        coalesce($"n_scanned", lit(0L)).as("n_scanned"),
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        graft.core.Exact.dround(
          coalesce($"n_hits", lit(0L)).cast("double") / lit(10.0), 6)
          .as("recall"))
      .orderBy($"nprobe".asc)
  }

  // --- q204: recall census over the STORED serving layouts ---------------------
  /** The serving-recall surface ServingBench prices only in bytes
    * (r16 verdict #6): recall@10 vs the exact brute answer for each
    * STORED layout — full-precision (q165's), SQ8 (q193's), PQ
    * (q197's) — swept over nprobe = 1..8, every ranking computed off
    * the layout's OWN at-rest bytes (full: stored embeddings; SQ8:
    * dequantized stored codes; PQ: the 4-lookup ADC sum over stored
    * 4-byte codes). q179's curve prices nprobe on the in-query
    * full-precision index; this row closes the matrix a deployment
    * actually tunes — nprobe × code budget → recall — so the 26×
    * at-rest byte cut (191→7.3 KB at nprobe 3, ServingBench) has its
    * accuracy price on the same artifact.
    *
    * Exactness: all three coarse chains are the SAME trained
    * trajectory (ivfLearned(8, 2) ≡ the PQ build's coarse chain), so
    * prk is shared arithmetic; full/SQ8 rank by round(cos, 6) desc
    * (q128/q136's rules), PQ by dround(adc, 6) asc (q149's); recall
    * is an integer count over 10.
    *
    * Scale shape: ONE pass per layout folds into per-cell top-10s
    * (≤ 10·k rows — the q179 device: any cell-subset's top-10 lives
    * inside the union of per-cell top-10s), and the 8-point sweep is
    * windows over that bounded frame; the exact baseline scans the
    * corpus once and checkpoints. Builds are the one-off serving
    * setups the oracle discipline prices in-query.
    */
  def q204StoredRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val layouts @ Seq(full, sq8, (pq, rootP)) = Seq(IvfCodec.Full -> "f",
        IvfCodec.Sq8 -> "s", IvfCodec.Pq -> "p").map { case (c, sfx) =>
      (IvfLayout(tenants = false, c), ivfTempRoot(s, dir, "_rc" + sfx))
    }
    // ONE coarse training for all three layouts (r17): they deploy
    // the SAME trajectory's quantizer (ivfLearned k=8 iters=2 — one
    // update round off the vec_id-1..8 seeds), so training it three
    // times produced three bit-identical centroid tables for 3× the
    // cost. Sharing changes no stored byte.
    val emb = embCached(s, dir)
    val centsShared = ivfTrain(emb, k = 8, iters = 2)
    // the three setups are INDEPENDENT given the shared (driver-side)
    // centroids and the memoized emb frame — overlap
    // them so one build's driver-side commit gaps back-fill with
    // another's tasks instead of serializing three write pipelines
    graft.core.Par.all(s, layouts.map { case (l, root) =>
      () => l.build(s, dir, root, pre = Some(centsShared))
    })
    val q0 = broadcast(emb.filter($"vec_id" === 0)
      .select(vec($"embedding").as("qv0")))
    // exact baseline consumed by all three sweeps — one corpus scan
    val exact = broadcast(emb.filter($"vec_id" =!= 0).crossJoin(q0)
      .select($"vec_id", round(cosine(vec($"embedding"), $"qv0"), 6).as("c"))
      .orderBy($"c".desc, $"vec_id".asc).limit(10)
      .select($"vec_id", lit(1L).as("is_exact"))
      .localCheckpoint(false))
    // each layout's cell ranking off its OWN sidecars; qv rides the
    // k-row frame so `_query` scans once per layout (scan-count gate)
    def prkOf(root: String): DataFrame =
      broadcast(graft.core.Fs.readSidecar(s, s"$root/_cents", CentsSchema)
        .crossJoin(broadcast(
          graft.core.Fs.readSidecar(s, s"$root/_query", QuerySchema)))
        .withColumn("qd2", dot($"qv", $"qv")
          - lit(2.0) * dot($"qv", $"centroid")
          + dot($"centroid", $"centroid"))
        .withColumn("prk", row_number().over(
          Window.orderBy($"qd2".asc, $"cell".asc)))
        .select($"cell", $"prk", $"centroid", $"qv"))
    val spine = s.range(1, 9).select($"id".as("nprobe"))
    def sweep(scored: DataFrame, asc: Boolean, layout: String): DataFrame = {
      def ord = if (asc) Seq($"sc".asc, $"vec_id".asc)
                else Seq($"sc".desc, $"vec_id".asc)
      val perCell = scored
        .withColumn("crk", row_number().over(
          Window.partitionBy($"cell").orderBy(ord: _*)))
        .filter($"crk" <= 10)
        .select($"vec_id", $"sc", $"prk")
      perCell.join(spine, $"prk" <= $"nprobe")
        .withColumn("rk", row_number().over(
          Window.partitionBy($"nprobe").orderBy(ord: _*)))
        .filter($"rk" <= 10)
        .join(exact, Seq("vec_id"), "left")
        .groupBy($"nprobe")
        .agg(coalesce(sum($"is_exact"), lit(0L)).as("n_hits"))
        .select(lit(layout).as("layout"), $"nprobe", $"n_hits",
          graft.core.Exact.dround(
            $"n_hits".cast("double") / lit(10.0), 6).as("recall"))
    }
    // each layout's members (all cells) with their cell's rank, the
    // query riding the k-row frame
    def scanned(layout: (IvfLayout, String), cells: DataFrame): DataFrame =
      layout._1.read(s, s"${layout._2}/index").filter($"vec_id" =!= 0)
        .join(cells, "cell")
    def scoredCos(layout: (IvfLayout, String)): DataFrame =
      layout._1.withVec(scanned(layout, prkOf(layout._2)))
        .select($"vec_id", $"cell", $"prk",
          round(cosine($"mv", $"qv"), 6).as("sc"))
    val scoredF = scoredCos(full)
    val scoredS = scoredCos(sq8)
    // PQ: per-cell ADC tables for ALL cells (the sweep reaches
    // nprobe = k), prk kept as a table key
    val scoredP = scanned((pq, rootP), pqTabs(prkOf(rootP),
        graft.core.Fs.readSidecar(s, s"$rootP/_books", BooksSchema),
        "cell", "prk"))
      .select($"vec_id", $"cell", $"prk",
        graft.core.Exact.dround(pqAdcSum, 6).as("sc"))
    sweep(scoredF, asc = false, "full")
      .unionByName(sweep(scoredS, asc = false, "sq8"))
      .unionByName(sweep(scoredP, asc = true, "pq"))
      .orderBy($"layout".asc, $"nprobe".asc)
  }

  // --- q187: Matryoshka dimension-truncation recall curve ----------------------
  /** The MRL serving decision (Kusupati et al. 2022 — matryoshka
    * representations): how much recall does each PREFIX of the
    * embedding dimensions buy? For dim ∈ {16, 32, 48, 64}, rank the
    * corpus by cosine over the first `dim` coordinates against q29's
    * query vector and census recall@10 vs the full-dimension exact
    * answer — the curve that decides how many coordinates the serving
    * tier stores/ships (a 16-dim prefix is a 4× bandwidth/memory cut
    * BEFORE any quantization, composable with q109/q147's). Sits
    * beside q179 (recall vs nprobe) and q151 (error vs PQ bytes) as
    * the third axis of the serving cost/quality surface.
    *
    * Exactness: prefix cosines are dots over array slices, rounded to
    * 6 before ranking (q29's class, vec_id-asc ties); recall is an
    * integer count over 10.
    *
    * Scale shape: ONE corpus scan computes all four prefix cosines
    * per row (each a codegen'd dot over a slice — the checkpointed
    * scored frame is (vec_id, 4 doubles)); each sweep point is a
    * TakeOrdered top-10 off that frame, never a global sort; the
    * recall join is 10×4 rows against a 10-row broadcast.
    */
  def q187MatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embCached(s, dir)
    val q = broadcast(emb.filter($"vec_id" === 0)
      .select(vec($"embedding").as("qv")))
    val dims = Seq(16, 32, 48, 64)
    val scored = emb.filter($"vec_id" =!= 0).crossJoin(q)
      .select(Seq($"vec_id") ++ dims.map(d =>
        round(try_divide(
          dot(vec(slice($"embedding", 1, d)), slice($"qv", 1, d)),
          sqrt(dot(vec(slice($"embedding", 1, d)),
            vec(slice($"embedding", 1, d))))
            * sqrt(dot(slice($"qv", 1, d), slice($"qv", 1, d)))), 6)
          .as(s"cos$d")): _*)
      .localCheckpoint(false) // one scan feeds all four sweep points
    def top10(d: Int): DataFrame = scored
      .select($"vec_id", col(s"cos$d").as("cos"))
      .orderBy($"cos".desc, $"vec_id".asc).limit(10)
    val exact = broadcast(top10(64)
      .select($"vec_id", lit(1L).as("is_exact")))
    dims.map { d =>
      top10(d)
        .join(exact, Seq("vec_id"), "left")
        .agg(lit(d.toLong).as("dim"),
          coalesce(sum($"is_exact"), lit(0L)).as("n_hits"))
        .select($"dim", $"n_hits",
          graft.core.Exact.dround(
            coalesce($"n_hits", lit(0L)).cast("double") / lit(10.0), 6)
            .as("recall"))
    }.reduce(_ unionByName _)
      .orderBy($"dim".asc)
  }

  // --- q139: incremental IVF append census ----------------------------------
  /** The append contract as an oracle row: train the coarse quantizer
    * on the FIRST HALF of the corpus (vec_id ≤ max/2 — yesterday's
    * index), assign the second half against the frozen centroids
    * (today's batch), and census the merged index per cell: base
    * members, appended members, total, and the exact vec_id sum as
    * the membership checksum. Every step is engine-replicable (q102's
    * integer-snapped Lloyd trajectory + bit-parity d2 assignment), so
    * "append == retrain-free assignment" is hash-checked, not
    * asserted.
    *
    * Scale shape: q128's training stages (zero-shuffle assignment
    * projections, one k-row aggregation per round) on the base; ONE
    * zero-shuffle assignment projection for the batch; the census is
    * one ≤k-row aggregation. The half split rides a broadcast 1-row
    * max — no driver collect.
    */
  def q139IvfAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embCached(s, dir)
    val half = broadcast(
      emb.agg(floor(max($"vec_id") / 2).cast("long").as("split")))
    val base = emb.crossJoin(half).filter($"vec_id" <= $"split")
      .select($"vec_id", $"embedding")
    val delta = emb.crossJoin(half).filter($"vec_id" > $"split")
      .select($"vec_id", $"embedding")
    val q = ivfTrain(base, k = 8, iters = 2)
    val appended = ivfAssign(delta, q)
    ivfAssign(base, q).select($"vec_id", $"cell").withColumn("is_base", lit(1L))
      .unionByName(appended.select($"vec_id", $"cell")
        .withColumn("is_base", lit(0L)))
      .groupBy($"cell")
      .agg(sum($"is_base").as("n_base"),
        sum(lit(1L) - $"is_base").as("n_new"),
        count(lit(1)).as("n_total"),
        sum($"vec_id").as("id_sum"))
  }

  // --- q158: IVF tombstone-delete census --------------------------------------
  /** The delete contract as an oracle row, closing the IVF CRUD
    * lifecycle (train q102 → index q128 → append q139 → DELETE here):
    * train the coarse quantizer on the corpus, tombstone a
    * deterministic id set (vec_id ≡ 3 mod 7 — the dedup-verdict
    * stand-in), and census the SERVING view per cell: live members,
    * tombstoned members, and the live vec_id sum as the membership
    * checksum. The live set must be exactly "assignment minus
    * tombstones" — engine-replicable because the trajectory is q102's
    * integer-snapped Lloyd and the tombstone predicate is pure integer
    * arithmetic. The FILE-level surface (ivfDelete / IvfLayout.readLive /
    * IvfLayout.compact with pruning intact) is PipelineOpsSpec's half, the
    * q128 probe-vs-layout split.
    *
    * Scale shape: q128's training stages + ONE k-row census
    * aggregation; the tombstone mark is an in-row predicate, no join.
    */
  def q158IvfDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embCached(s, dir)
    val (idx, _) = ivfLearned(emb, k = 8, iters = 2)
    idx.select($"vec_id", $"cell")
      .withColumn("dead",
        when($"vec_id" % 7 === 3, 1L).otherwise(0L))
      .groupBy($"cell")
      .agg(sum(lit(1L) - $"dead").as("n_live"),
        sum($"dead").as("n_deleted"),
        sum(when($"dead" === 0L, $"vec_id").otherwise(0L))
          .as("live_id_sum"))
  }

  // --- q136: quantized IVF serving (IVF-SQ8) --------------------------------
  /** The composition a production ANN service actually deploys (the
    * FAISS IVFx,SQ8 layout): q128's LEARNED coarse quantizer for
    * pruning + q109's int8 codes as the STORED representation — the
    * index holds (cell, code[64], scale) at 1/4 the vector memory, and
    * a probe dequantizes only the nprobe cells it scans against the
    * full-precision query. Both halves are already under the exact
    * gate, so the composed serving path is too: probe choice replays
    * q128's d2 rule, scoring is cosine(code·scale, query) on
    * bit-identical dequantized arrays.
    *
    * Scale shape: q128's (training = k-row stages; index written
    * partitionBy(cell)) with the member payload 4× smaller on disk
    * and over the wire — the reason SQ8 exists; the doc-keyed
    * index⨝codes join co-locates under vec_id bucketing at scale.
    * PipelineOpsSpec censuses the quantization's recall cost against
    * the full-precision probe (q128) and exact brute force (q29).
    */
  def q136AnnIvfSq8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embCached(s, dir)
    val (idx, cents) = ivfLearned(emb, k = 8, iters = 2)
    val stored = idx.select($"vec_id", $"cell")
      .join(quantizeInt8(emb).select($"vec_id", $"scale", $"code"), "vec_id")
    val q = broadcast(emb.filter($"vec_id" === 0)
      .select(vec($"embedding").as("qv")))
    val probe = cents.crossJoin(q)
      .withColumn("qd2", dot($"qv", $"qv")
        - lit(2.0) * dot($"qv", $"centroid")
        + dot($"centroid", $"centroid"))
      .orderBy($"qd2".asc, $"cell".asc).limit(3).select($"cell")
    stored.filter($"vec_id" =!= 0)
      .join(broadcast(probe), "cell")
      .crossJoin(q)
      .withColumn("deq", transform($"code", c => c.cast("double") * $"scale"))
      .withColumn("cos", cosine($"deq", $"qv"))
      .select($"vec_id", $"cell", round($"cos", 6).as("cos"))
      .orderBy(round($"cos", 6).desc, $"vec_id".asc)
      .limit(10)
  }

  // --- q147: product quantization + ADC probe (the FAISS PQ family) --------
  /** Product quantization (Jégou et al. 2011, the layout behind FAISS
    * IVF-PQ): the 64-dim vector splits into M = 4 subspaces of 16
    * dims; each subspace trains its OWN 16-codeword codebook (the
    * q102 2-round integer-snapped Lloyd trajectory on slices — 4
    * independent trajectories, all hash-checked); a vector's stored
    * form is 4 code ids — 4 bytes against 256 for float32, a 64×
    * memory cut, the step past q136's 4× SQ8. Probing is ADC
    * (asymmetric distance computation): the query precomputes one
    * d2(q_m, codeword) table per subspace (≤64 numbers) and a
    * vector's approximate distance is the 4-term table-lookup sum —
    * no vector arithmetic per candidate at all.
    *
    * Exactness: subspace training replays q102's rule per slice
    * (bit-parity d2, smallest-cl ties, round(v·2^20) centroid sums);
    * the ADC sum adds the four looked-up doubles in fixed syntactic
    * order, so both engines produce identical bits end to end.
    *
    * Scale shape: training is 4 × (zero-shuffle assignment projection
    * + one ≤16-row aggregation); encode + ADC is ONE zero-shuffle
    * projection per vector against a broadcast packed codebook row
    * (codebooks carry their query-distance tables with them); top-10
    * rides TakeOrdered. The stored representation is what makes
    * cluster-scale ANN fit in memory — the whole point of PQ.
    */
  def q147AnnPqAdc(s: SparkSession, dir: String): DataFrame =
    pqAdc(Tables.embeddings(s, dir))

  /** The PQ train/encode/ADC pipeline over ANY (vec_id, embedding)
    * frame — q147 applies it to the driver embeddings; the spec feeds
    * it a codeword-exact corpus where ADC must equal true d2.
    */
  def pqAdc(emb0: DataFrame): DataFrame = {
    import emb0.sparkSession.implicits._
    // lazy localCheckpoint of the TRAINING SET (the q151 footnote made
    // code): the subspace trajectories + encode + truth each re-scan
    // the embedding source otherwise — ScanAudit read 14 scans for
    // this one query. Caching the train set is what every iterative
    // quantizer deployment does while the frame fits cluster storage;
    // past that, drop this line and pay the columnar re-scans.
    val emb = emb0.localCheckpoint(false)
    val M = PqM; val SubDim = PqSubDim
    def sub(c: Column, m: Int): Column = slice(vec(c), m * SubDim + 1, SubDim)
    val q = emb.filter($"vec_id" === 0).select(vec($"embedding").as("qv"))
    // one exploded pass trains all four codebooks (pqTrainBooks —
    // r17; was four independent assign/update chains)
    val booksAll =
      pqTrainBooks(emb.select($"vec_id", vec($"embedding").as("res")))
    // ONE broadcast row: the packed per-subspace codebooks (the
    // codegen'd argmin's input) and the per-(m, codeword) ADC table
    // (query-distance lookups keyed m·1000+cl — the stored probes'
    // pqAdcRank rule applied in-query, r16 verdict #7: the HOF
    // argmin `array_min(transform(...))` evaluated interpreted per
    // candidate; NearestCentroidExpr runs the same composed-dot d2
    // and (d2 asc, cl asc) ties compiled)
    val mSlice = slice($"qv", $"m" * SubDim + 1, lit(SubDim))
    val packed = broadcast(booksAll.crossJoin(q)
      .select($"m", $"cl", $"cvec",
        (dot(mSlice, mSlice) - lit(2.0) * dot(mSlice, $"cvec")
          + dot($"cvec", $"cvec")).as("qd2"))
      .groupBy($"m")
      .agg(collect_list(struct($"cl", $"cvec")).as("cb"),
        collect_list(struct(
          ($"m".cast("long") * lit(1000L) + $"cl").as("mk"),
          $"qd2")).as("tabm"))
      .agg(sort_array(collect_list(struct($"m", $"cb"))).as("cbs"),
        map_from_entries(flatten(collect_list($"tabm"))).as("tab")))
    def cl(m: Int): Column = col(s"c$m")
    def look(m: Int): Column =
      element_at($"tab", lit(m.toLong * 1000L) + cl(m))
    emb.filter($"vec_id" =!= 0).crossJoin(packed)
      .withColumns((0 until M).map(m => s"c$m" ->
        graft.functions.geo.nearest_centroid(sub($"embedding", m),
          element_at($"cbs", m + 1).getField("cb")).getField("cl")).toMap)
      .withColumn("adc_d2", look(0) + look(1) + look(2) + look(3))
      .crossJoin(broadcast(q))
      .select($"vec_id",
        concat_ws("-", cl(0), cl(1), cl(2), cl(3)).as("code"),
        graft.core.Exact.dround($"adc_d2", 6).as("adc_d2"),
        graft.core.Exact.dround(cosine(vec($"embedding"), $"qv"), 6)
          .as("cos_true"))
      .orderBy(graft.core.Exact.dround($"adc_d2", 6).asc, $"vec_id".asc)
      .limit(10)
  }

  // --- q149: IVF-PQ — coarse cells + product-quantized residuals -----------
  /** The COMPLETE FAISS IVF-PQ layout, composing everything the ANN
    * stack built: q128's learned coarse quantizer prunes to nprobe
    * cells; q147's product quantizer encodes each vector's RESIDUAL
    * (x − its cell's centroid — residuals are smaller and
    * better-centered than raw vectors, the reason IVF-PQ encodes them;
    * Jégou et al. 2011 §IV); probing is per-cell ADC — the query's
    * residual against cell c has its own 4×16 distance table, so a
    * candidate's distance is still a 4-term lookup sum. Stored form
    * per vector: (cell, 4 bytes).
    *
    * Exactness: the coarse trajectory is q128's, the residuals are
    * elementwise double differences of already-bit-identical arrays,
    * the four residual-codebook trajectories replay q102's rule on
    * slices, and the ADC sum adds in fixed order — the ENTIRE composed
    * layout sits under the hash gate.
    *
    * Scale shape: coarse + subspace training are k-row stages;
    * residual/encode/ADC is one zero-shuffle projection per candidate
    * against broadcast tables (probed cells × 4 × ≤16 entries);
    * candidates are the probed cells' members only (partition-pruned
    * under the stored layout). Top-10 rides TakeOrdered.
    */
  def q149AnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embCached(s, dir)
    // q128's trajectory, trained once on the driver (ivfTrain): the
    // centroids are literal rows, so no downstream branch re-runs the
    // coarse training; withRes/booksAll feed 4-5 branches each and are
    // checkpointed (the q51-loop rule applied to a DAG; on a cluster,
    // checkpoint(dir) is the executor-loss-safe spelling)
    val coarse = ivfTrain(emb, k = 8, iters = 2)
    val cents = coarse.frame(s)
    val withRes =
      pqResiduals(ivfAssign(emb, coarse), coarse).localCheckpoint()
    // one exploded pass trains all four residual codebooks
    // (pqTrainBooks — r17; was four independent chains, each its own
    // aggregation + eager checkpoint)
    val booksAll = pqTrainBooks(withRes).localCheckpoint()
    val q = broadcast(emb.filter($"vec_id" === 0)
      .select(vec($"embedding").as("qv")))
    val probe = cents.crossJoin(q)
      .withColumn("qd2", dot($"qv", $"qv")
        - lit(2.0) * dot($"qv", $"centroid")
        + dot($"centroid", $"centroid"))
      .orderBy($"qd2".asc, $"cell".asc).limit(3)
      .select($"cell", $"centroid")
    // per-(cell, m, codeword) ADC tables — the query's residual
    // differs per cell; the stored probe's arithmetic in-query
    val tabs = pqTabs(probe.crossJoin(q), booksAll, "cell")
    // candidates = probed cells' members only (3-row broadcast join);
    // encode with the codegen'd per-subspace argmin and rank by the
    // fixed-order 4-term lookup sum — q197's stored-probe kernel
    // applied in-query (r16 verdict #7: the HOF argmin evaluated
    // interpreted per candidate; same composed-dot d2, same (d2 asc,
    // cl asc) ties, so codes and rankings are bit-identical)
    val base = withRes.filter($"vec_id" =!= 0)
      .join(broadcast(tabs.select($"cell")), "cell")
    pqAdcRank(pqEncode(base, booksAll), tabs, 10)
  }

  // --- q197: stored IVF-PQ serving layout — PQ codes at rest, ADC off disk ---
  /** PQ geometry shared by q147/q149/q197: M subspaces of SubDim dims,
    * K codewords each (4 × 16 × 16 over the 64-dim corpus — 4 stored
    * bytes per vector).
    */
  private[graft] val PqM = 4
  private[graft] val PqSubDim = 16
  private[graft] val PqK = 16

  /** Residuals of an assigned frame against its cells' centroids —
    * (vec_id, cell, res, extra…) from (vec_id, embedding, cell, …): one
    * projection, each row's centroid looked up in the quantizer's
    * rows (a literal map, k entries).
    */
  private def pqResiduals(asg: DataFrame, q: Quantizer,
      extra: Seq[String] = Nil): DataFrame = {
    import asg.sparkSession.implicits._
    asg.select(($"vec_id" +: $"cell" +:
      zip_with(vec($"embedding"), element_at(map_from_entries(q.packed),
        $"cell"), (a, c) => a - c).as("res") +: extra.map(col)): _*)
  }

  /** Train `mSub` subspace codebooks (k codewords of `subDim` dims
    * each) over a (vec_id, res) frame in ONE pass — returns
    * (m, cl, cvec). The pre-r17 spelling ran mSub independent
    * kmeansAssign→kmeansUpdate chains (one aggregation shuffle + one
    * eager checkpoint EACH — 4 training jobs per PQ build, 14 across
    * q151's sweep); this explodes each row into its mSub subvector
    * slices once and trains every codebook in one assignment
    * projection + ONE (m, cl) aggregation. Bit-identical trajectories:
    * the per-(m, cl) integer-snapped sums (round(v·2^20), q77's rule)
    * are associative, so regrouping by (m, cl) instead of per-m frames
    * changes nothing, and the assignment argmin is the same codegen'd
    * [[org.apache.spark.sql.graft.NearestCentroidExpr]] rule (composed
    * -dot d2, (d2 asc, cl asc) ties) kmeansAssign runs. Seeds are the
    * q147 rule per subspace: vec_id 1..k's slices, cl = vec_id.
    */
  private def pqTrainBooks(withRes: DataFrame, mSub: Int = PqM,
      subDim: Int = PqSubDim, k: Int = PqK): DataFrame = {
    import withRes.sparkSession.implicits._
    val subs = withRes.select($"vec_id",
      explode(array((0 until mSub).map(m =>
        struct(lit(m).as("m"),
          slice($"res", m * subDim + 1, subDim).as("sub"))): _*)).as("e"))
      .select($"vec_id", $"e.m".as("m"), $"e.sub".as("sub"))
    val packs = broadcast(subs.filter($"vec_id".between(1L, k.toLong))
      .groupBy($"m")
      .agg(collect_list(struct($"vec_id".as("cl"), $"sub".as("cvec")))
        .as("cb")))
    val asg = subs.join(packs, "m")
      .select($"m", $"sub", graft.functions.geo
        .nearest_centroid($"sub", $"cb").getField("cl").as("cl"))
    val sums = (1 to subDim).map(i =>
      sum(element_at($"snapped", i)).as(s"s$i"))
    asg
      .withColumn("snapped",
        transform($"sub", v => round(v * 1048576.0).cast("long")))
      .groupBy($"m", $"cl")
      .agg(count(lit(1)).as("n"), sums: _*)
      .select($"m", $"cl", array((1 to subDim).map(i =>
        col(s"s$i").cast("double") / ($"n" * 1048576.0)): _*).as("cvec"))
  }

  /** Encode residuals against the four FROZEN codebooks (`books`:
    * (m, cl, cvec) rows): per-subspace nearest codeword via the
    * codegen'd NearestCentroidExpr — ONE broadcast carrying all four
    * packed ≤16-row codebooks, one projection, 4 bytes out per vector
    * (cl ∈ 1..16 holds losslessly in a byte). The argmin ties to the
    * smallest cl, so codeword order inside a pack is immaterial.
    * Encoding is a pure per-row function of (vector, frozen
    * quantizers) — the property that makes retrain-free append exact.
    */
  private def pqEncode(withRes: DataFrame, books: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    import withRes.sparkSession.implicits._
    def sl(c: Column, m: Int): Column = slice(c, m * PqSubDim + 1, PqSubDim)
    val packed = broadcast(books
      .groupBy($"m").agg(collect_list(struct($"cl", $"cvec")).as("cb"))
      .agg(sort_array(collect_list(struct($"m", $"cb"))).as("cbs")))
    withRes.crossJoin(packed)
      .select(($"vec_id" +:
        array((0 until PqM).map(m =>
          graft.functions.geo.nearest_centroid(sl($"res", m),
            element_at($"cbs", m + 1).getField("cb"))
            .getField("cl").cast("byte")): _*).as("code") +:
        extra.map(col) :+ $"cell"): _*)
  }

  /** Per-cell ADC tables: the query's residual against each cell's
    * centroid, one d2(q_m, codeword) entry per (m, codeword) keyed
    * m·1000+cl — from a (cell, centroid, qv, keys…) frame and the
    * (m, cl, cvec) codebook rows, one broadcast `tab` map per `keys`
    * group (≤ cells·PqM·PqK entries). q149 builds them in-query, the
    * stored probe from `_books`, q204 for every cell.
    */
  private def pqTabs(cells: DataFrame, books: DataFrame,
      keys: String*): DataFrame = {
    import cells.sparkSession.implicits._
    val mSlice = slice($"qres", $"m" * PqSubDim + 1, lit(PqSubDim))
    broadcast(cells
      .withColumn("qres", zip_with($"qv", $"centroid", (a, c) => a - c))
      .crossJoin(books)
      .select(keys.map(col) ++ Seq(
        ($"m".cast("long") * lit(1000L) + $"cl").as("mk"),
        (dot(mSlice, mSlice)
          - lit(2.0) * dot(mSlice, $"cvec")
          + dot($"cvec", $"cvec")).as("qd2")): _*)
      .groupBy(keys.map(col): _*)
      .agg(map_from_entries(collect_list(struct($"mk", $"qd2"))).as("tab")))
  }

  /** Stored code byte `m` as the table key's codeword part. */
  private def pqCodeWord(m: Int): Column =
    element_at(col("code"), m + 1).cast("long")

  /** The ADC distance: the four table lookups keyed by the stored
    * codes, added in fixed order (q149's b0+b1+b2+b3 spelling).
    */
  private def pqAdcSum: Column = (0 until PqM).map(m =>
    element_at(col("tab"), lit(m.toLong * 1000L) + pqCodeWord(m))).reduce(_ + _)

  /** Rank stored-code candidates by the ADC lookup sum against their
    * cell's table — 4 map lookups per candidate, zero per-candidate
    * vector arithmetic.
    */
  private def pqAdcRank(cand: DataFrame, tabs: DataFrame, k: Int): DataFrame =
    cand.join(tabs, "cell")
      .withColumn("adc_d2", pqAdcSum)
      .select(col("vec_id"), col("cell"),
        concat_ws("-", (0 until PqM).map(pqCodeWord): _*).as("code"),
        graft.core.Exact.dround(col("adc_d2"), 6).as("adc_d2"))
      .orderBy(graft.core.Exact.dround(col("adc_d2"), 6).asc,
        col("vec_id").asc)
      .limit(k)

  // --- q201: multi-tenant × stored-PQ IVF (the composition matrix closed) ----
  /** Build + two tenants' probes over the compressed-shared PQ layout
    * as one oracle row — the tenant × {full (q191), SQ8 (q195), PQ}
    * matrix closed at the 4-byte compression point: each tenant's ADC
    * ranking must equal q149's rule over its members alone (cell
    * assignment AND codes are per-row functions, so neither product
    * quantization nor co-tenancy can leak a neighbor's rows).
    */
  def q201IvfTenantPq(s: SparkSession, dir: String): DataFrame = {
    val layout = IvfLayout(tenants = true, IvfCodec.Pq)
    val root = ivfTempRoot(s, dir, "_tpq")
    layout.build(s, dir, root)
    tenantProbes(s, layout, root)
  }

  /** Arrival-invariance of the stored-PQ layout under the oracle gate:
    * build the layout with only the FIRST half of the corpus as
    * members (quantizers trained on the full corpus — the frozen-
    * quantizer contract every retrain-free maintenance leg in this
    * pack shares), [[IvfLayout.append]] the second half, probe — the
    * answer must hash-equal q149/q197 (same oracle SQL verbatim):
    * append is invisible to ranking because assignment and encoding
    * are pure per-row functions of the frozen quantizers.
    */
  def q200IvfPqAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val layout = IvfLayout(tenants = false, IvfCodec.Pq)
    val root = ivfTempRoot(s, dir, "_pqapp")
    val emb = embCached(s, dir)
    // a 1-row bounded driver read (the build's overwrite resets the
    // index, so bench reps never append-on-append)
    val splitV = emb.agg(floor(max($"vec_id") / 2).cast("long"))
      .as[Long].head()
    layout.build(s, dir, root, members = col("vec_id") <= splitV)
    layout.append(s, root,
      emb.filter($"vec_id" > splitV).select($"vec_id", $"embedding"))
    layout.probe(s, root, excludeVecId = Some(0L))
  }

  // --- q202: stored-PQ layout built by the MAINTENANCE STREAM ------------------
  /** The stored-PQ layout's streaming-CRUD leg under the oracle gate:
    * train the coarse quantizer and residual codebooks once (sidecars
    * written, index EMPTY), then let the whole corpus arrive as two
    * CRUD micro-batches through [[graft.streaming.IvfMaintain.applyBatch]]
    * — each batch one frozen-quantizer assign+encode projection staged
    * and published exactly-once under [[graft.streaming.IngestCommit]]
    * — and probe the stored 4-byte codes. The answer must hash-equal
    * q149/q197 (same oracle SQL verbatim): assignment AND encoding are
    * pure per-row functions of the frozen quantizers, so arrival
    * order, batch boundaries, and the staged-rename publish are all
    * invisible to ADC rankings — the q198 arrival law at the 4-byte
    * compression point.
    *
    * Scale shape: per batch one zero-shuffle assign+encode projection
    * (k-row `_cents` literal + 64-row `_books` broadcast) + a staged
    * write touching only the batch's cells, ≤|touched cells|+1
    * renames; probes stay nprobe-pruned scans of 4-byte codes.
    * StreamingSpec adds the live twin (MemoryStream feed, stream ==
    * batch-built parity, tombstone dels, replay refusal).
    */
  def q202IvfPqMaintain(s: SparkSession, dir: String): DataFrame =
    maintainedByStream(s, dir, IvfLayout(tenants = false, IvfCodec.Pq),
      "_pqmaint")

  /** The FAISS-IVFx,PQy layout at rest under the oracle gate: the
    * index stores (vec_id, code[4] as BYTES, cell) — 4 bytes of member
    * payload against SQ8's 72 and full-precision's 256+ — and training
    * replays q149's exact trajectory, so probing the stored 4-byte
    * codes must hash-equal q149 (same oracle SQL): at-rest product
    * quantization is invisible to ranking, the q193 discipline at the
    * PQ compression point.
    */
  def q197IvfPqStored(s: SparkSession, dir: String): DataFrame =
    storedProbe(s, dir, IvfLayout(tenants = false, IvfCodec.Pq), "_pq")

  // --- q151: PQ code-budget sweep -------------------------------------------
  /** The sweep a production PQ deployment runs before fixing a code
    * budget: quantize the corpus at M ∈ {2, 4, 8} subspaces (= bytes
    * per vector; 16 codewords each, subspace width 64/M) and census
    * the mean per-vector quantization error at each budget — the
    * error-vs-memory CURVE, q120's BPE-sweep discipline applied to
    * q147's quantizer. Each budget trains its own independent
    * integer-snapped Lloyd codebooks, so the whole 14-trajectory sweep
    * (2+4+8) sits under the hash gate; per-(vector, subspace) errors
    * snap to round(d2·2^20) integers before summing (q30's rule), so
    * the census is partition-invariant.
    *
    * Scale shape: per budget and subspace, one zero-shuffle assignment
    * projection + one ≤16-row aggregation (training) + one more
    * assignment projection whose d2 IS the min (feeding a single
    * map-combined global sum). Nothing joins; nothing is driver-side.
    */
  def q151PqSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embCached(s, dir)
    val n = broadcast(emb.agg(count(lit(1)).as("n")))
    // r17: each budget trains its mSub codebooks in ONE exploded pass
    // (pqTrainBooks) and scores the final assignment's d2 in ONE more
    // — the pre-r17 plan carried 14 independent assign/update subtrees
    // (2+4+8 chains). Bit-identical: same per-(m, cl) integer-snapped
    // sums, same codegen'd argmin, and the error census sums the same
    // round(d2·2^20) integers (associative) over the same rows.
    Seq(2, 4, 8).map { mSub =>
      val subDim = EmbDim / mSub
      val res = emb.select($"vec_id", vec($"embedding").as("res"))
      val packs = broadcast(pqTrainBooks(res, mSub, subDim, 16)
        .groupBy($"m")
        .agg(collect_list(struct($"cl", $"cvec")).as("cb")))
      val subs = res.select($"vec_id",
        explode(array((0 until mSub).map(m =>
          struct(lit(m).as("m"),
            slice($"res", m * subDim + 1, subDim).as("sub"))): _*)).as("e"))
        .select($"e.m".as("m"), $"e.sub".as("sub"))
      val errs = subs.join(packs, "m")
        .select(round(graft.functions.geo.nearest_centroid($"sub", $"cb")
          .getField("d2") * 1048576.0).cast("long").as("q"))
      errs.agg(sum($"q").as("sq")).crossJoin(n)
        .select(lit(mSub.toLong).as("bytes_per_vec"),
          graft.core.Exact.dround(
            $"sq".cast("double") / ($"n" * 1048576.0), 6).as("mean_err"))
    }.reduce(_ unionByName _).orderBy($"bytes_per_vec".asc)
  }

  // --- q134: hybrid retrieval — reciprocal-rank fusion of BM25 + ANN -------
  /** RRF (Cormack et al. 2009, the standard hybrid-retrieval combiner):
    * fuse the LEXICAL ranking (q130's BM25 top-10) with the DENSE
    * ranking (q29's exact cosine top-10) as
    * score(d) = Σ_systems 1/(60 + rank_s(d)) — rank-only fusion, so no
    * score calibration between systems is needed (BM25 scores and
    * cosines are incomparable scales; their RANKS are not). The two
    * retrievals share the corpus id space (embeddings vec_id ↔
    * doc_id for the embedded 40% of the corpus).
    *
    * Exactness: ranks are integers from already-deterministic total
    * orders; 1/(60+r) and the ≤2-term sum are IEEE on identical
    * inputs; the fused ordering compares the ROUNDED score with
    * doc_id tie-breaks (singletons at equal rank tie by construction —
    * the tie-break is load-bearing and both engines spell it).
    *
    * Scale shape: everything after the two retrievals operates on two
    * ≤10-row frames — union, one tiny aggregation, TakeOrdered. The
    * retrievals themselves carry their own 100 TB shapes (q130's
    * filtered scan, q29's broadcast probe).
    */
  def q134RrfFusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wB = Window.orderBy($"score".desc, $"doc_id".asc)
    val bm = TextAnalysis.q130Bm25(s, dir)
      .select($"doc_id", $"score")
      .withColumn("rank", row_number().over(wB).cast("long"))
      .select($"doc_id", lit("bm25").as("sys"), $"rank")
    val wA = Window.orderBy($"cos".desc, $"doc_id".asc)
    val ann = q29BruteTopK(s, dir)
      .select($"vec_id".as("doc_id"), $"cos")
      .withColumn("rank", row_number().over(wA).cast("long"))
      .select($"doc_id", lit("ann").as("sys"), $"rank")
    bm.unionByName(ann)
      .groupBy($"doc_id")
      .agg(graft.core.Exact.dround(
        sum(lit(1.0) / (lit(60.0) + $"rank".cast("double"))), 6).as("rrf"),
        count(lit(1)).as("n_systems"),
        min(when($"sys" === "bm25", $"rank")).as("bm25_rank"),
        min(when($"sys" === "ann", $"rank")).as("ann_rank"))
      .orderBy($"rrf".desc, $"doc_id".asc).limit(10)
  }

  /** The hybrid batch: q164's lexical queries paired 1:1 with q165's
    * query vectors — each hybrid query is (terms, vector).
    */
  private[operators] val HybridBatch: Seq[(Long, Long)] =
    graft.operators.TextAnalysis.Bm25Batch.map(_._1).zip(AnnBatchIds)

  // --- q166: batch hybrid retrieval (RRF over the two batch probes) ---------
  /** q134's reciprocal-rank fusion for a QUERY BATCH — the full
    * hybrid-retrieval serving shape: the lexical side is q164's
    * one-pass batch BM25 probe (per-query ranks off the layout), the
    * dense side is q29's exact-cosine device per query vector (one
    * corpus×|queries| broadcast fan-out, per-query top-10 window), and
    * the fusion is the same rank-only Σ 1/(60+rank) per (query, doc).
    * Post-retrieval work touches only two 10·|queries|-row frames —
    * the component retrievals carry their own 100 TB shapes (q164's
    * bucket pruning; the brute side swaps to q165's IVF probe when
    * exactness of the dense ranking is not contractual).
    */
  def q166RrfBatchFusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val wB = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"doc_id".asc)
    val bm = graft.operators.TextAnalysis.q164Bm25BatchProbe(s, dir)
      .select($"query_id", $"doc_id", $"score")
      .withColumn("rank", row_number().over(wB).cast("long"))
      .select($"query_id", $"doc_id", lit("bm25").as("sys"), $"rank")
    val emb = embCached(s, dir)
    val pairsDf = HybridBatch.toDF("query_id", "qvec")
    val qs = broadcast(emb.join(broadcast(pairsDf), $"vec_id" === $"qvec")
      .select($"query_id", $"qvec", vec($"embedding").as("qv")))
    val wA = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"doc_id".asc)
    val ann = emb.crossJoin(qs)
      .filter($"vec_id" =!= $"qvec")
      .withColumn("cos", round(cosine(vec($"embedding"), $"qv"), 6))
      .select($"query_id", $"vec_id".as("doc_id"), $"cos")
      .withColumn("rank", row_number().over(wA).cast("long"))
      .filter($"rank" <= 10)
      .select($"query_id", $"doc_id", lit("ann").as("sys"), $"rank")
    val fuseW = Window.partitionBy($"query_id")
      .orderBy($"rrf".desc, $"doc_id".asc)
    bm.unionByName(ann)
      .groupBy($"query_id", $"doc_id")
      .agg(graft.core.Exact.dround(
        sum(lit(1.0) / (lit(60.0) + $"rank".cast("double"))), 6).as("rrf"),
        count(lit(1)).as("n_systems"),
        min(when($"sys" === "bm25", $"rank")).as("bm25_rank"),
        min(when($"sys" === "ann", $"rank")).as("ann_rank"))
      .withColumn("rk", row_number().over(fuseW))
      .filter($"rk" <= 10).drop("rk")
      .orderBy($"query_id".asc, $"rrf".desc, $"doc_id".asc)
  }

  // --- q196: RAG context packing — fused retrieval under a token budget ------
  /** Context-budget tokens for q196 — sized so the pack keeps SOME and
    * drops SOME of each query's fused top-10 at every SF (the
    * interesting regime; a budget beyond the whole top-10 degenerates
    * to q166).
    */
  private[graft] val ContextBudget = 256L

  /** The retrieval→prompt assembly step every RAG serving path runs
    * after fusion: for each batch query, take q166's fused ranking and
    * GREEDILY pack documents in fused order until the context token
    * budget is spent — the deterministic prefix-by-rank rule (greedy
    * by rank, not knapsack: production context assembly is
    * rank-ordered because relevance order is the contract with the
    * generator). Emits the packed rows with their token cost and the
    * running total, so the consumer sees both what shipped and how
    * full the window is.
    *
    * Exactness: the fused ranking is q166's (hash-gated); token cost
    * is q130's dl rule (whitespace tokens) LEFT-joined so a candidate
    * without a document row costs 0 in both engines; the prefix test
    * is an integer cumulative-sum comparison — no float at the
    * boundary.
    *
    * Scale shape: q166's retrieval shapes + one broadcast-sized join
    * of the 10·|queries|-row fused frame against the doc-length
    * projection and a per-query running-sum window over ≤10 rows.
    */
  def q196ContextPack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val fused = q166RrfBatchFusion(s, dir)
      .select($"query_id", $"doc_id", $"rrf")
    // q130's dl rule, inlined (bm25Tokenized's exact spelling)
    val dl = Tables.documents(s, dir).select($"doc_id",
      size(filter(split($"text", " "), t => length(t) > 0))
        .cast("long").as("dl"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"rrf".desc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fused.join(dl, Seq("doc_id"), "left")
      .withColumn("dl", coalesce($"dl", lit(0L)))
      .withColumn("cum_tokens", sum($"dl").over(w))
      .filter($"cum_tokens" <= ContextBudget)
      .select($"query_id", $"doc_id", $"rrf", $"dl", $"cum_tokens")
      .orderBy($"query_id".asc, $"cum_tokens".asc, $"doc_id".asc)
  }

  // --- q199: approximate RAG context packing — fused over the stored IVF probe
  /** q196's context assembly with the dense leg swapped from the
    * exact brute scan to the STORED IVF batch probe (r15 verdict #6 —
    * the recall-vs-cost point of the RAG path): the lexical leg is
    * unchanged (q164's pruned batch probe), the dense leg reads
    * ≤nprobe cells per query off the persisted full-precision
    * layout instead of scanning the whole corpus, and fusion/packing
    * replay q166/q196's arithmetic verbatim. At 100 TB this is the
    * production shape — the exact dense leg is a full-corpus scan per
    * batch, the IVF leg is a partition-pruned read whose cost tracks
    * nprobe, and [[contextPackOverlap]] censuses what the
    * approximation changed in the SHIPPED context.
    *
    * Exactness: the IVF ranking is q165's (hash-gated trajectory);
    * rank fusion and the integer prefix rule are q166/q196's spellings
    * on those ranks — the whole approximate path sits under its own
    * hash gate, so "approximate" means a DIFFERENT deterministic
    * answer, never a loose one.
    */
  def q199ContextPackApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val root = ivfTempRoot(s, dir, "_ctx")
    // the two index BUILDS (IVF serving layout, q164's BM25 temp
    // layout) are independent one-off write pipelines — overlap them
    // so one build's driver-side commit gaps back-fill with the
    // other's tasks; the probes after the barrier are exactly q164's
    // batch probe + the stored IVF batch probe, unchanged
    val bmPath = graft.core.Fs.deleteOnExit(s,
      graft.operators.TextAnalysis.bm25TempIndexPath(dir))
    graft.core.Par.all(s, Seq(
      () => FullLayout.build(s, dir, root),
      () => graft.operators.TextAnalysis.bm25IndexWrite(
        Tables.documents(s, dir), bmPath)))
    val wB = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"doc_id".asc)
    val bm = graft.operators.TextAnalysis.bm25ProbeBatch(s, bmPath,
        graft.operators.TextAnalysis.Bm25Batch)
      .select($"query_id", $"doc_id", $"score")
      .withColumn("rank", row_number().over(wB).cast("long"))
      .select($"query_id", $"doc_id", lit("bm25").as("sys"), $"rank")
    // dense leg: the persisted layout's batch probe (q165's ranking),
    // re-keyed to the hybrid query ids
    val pairs = broadcast(HybridBatch.toDF("qid", "qvid"))
    val wA = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"doc_id".asc)
    val ann = ivfProbeStoredBatch(s, root)
      .join(pairs, $"query_id" === $"qvid")
      .select($"qid".as("query_id"), $"vec_id".as("doc_id"), $"cos")
      .withColumn("rank", row_number().over(wA).cast("long"))
      .select($"query_id", $"doc_id", lit("ann").as("sys"), $"rank")
    val fuseW = Window.partitionBy($"query_id")
      .orderBy($"rrf".desc, $"doc_id".asc)
    val fused = bm.unionByName(ann)
      .groupBy($"query_id", $"doc_id")
      .agg(graft.core.Exact.dround(
        sum(lit(1.0) / (lit(60.0) + $"rank".cast("double"))), 6).as("rrf"))
      .withColumn("rk", row_number().over(fuseW))
      .filter($"rk" <= 10).drop("rk")
    // q196's packing verbatim: q130's dl rule, integer running sum in
    // fused order, keep the prefix within the budget
    val dl = Tables.documents(s, dir).select($"doc_id",
      size(filter(split($"text", " "), t => length(t) > 0))
        .cast("long").as("dl"))
    val w = Window.partitionBy($"query_id")
      .orderBy($"rrf".desc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fused.join(dl, Seq("doc_id"), "left")
      .withColumn("dl", coalesce($"dl", lit(0L)))
      .withColumn("cum_tokens", sum($"dl").over(w))
      .filter($"cum_tokens" <= ContextBudget)
      .select($"query_id", $"doc_id", $"rrf", $"dl", $"cum_tokens")
      .orderBy($"query_id".asc, $"cum_tokens".asc, $"doc_id".asc)
  }

  /** The recall-vs-cost census between the exact (q196) and
    * approximate (q199) packed contexts: per query, how many docs each
    * shipped, how many they share, and the overlap fraction vs the
    * exact pack — the number a deployment reads before trading the
    * full-corpus dense scan for the pruned IVF probe.
    * PipelineOpsSpec pins it against independently recomputed sets.
    */
  def contextPackOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // EAGER checkpoints: both packs rebuild the SAME deterministic
    // temp BM25 layout (bm25TempIndexPath) for their lexical leg — a
    // lazy composition would let the second build overwrite files the
    // first plan had already listed (FAILED_READ_FILE on collect).
    // Each side freezes its answer before the other builds.
    val exact = q196ContextPack(s, dir).localCheckpoint(true)
      .select($"query_id", $"doc_id").withColumn("in_exact", lit(1L))
    val approx = q199ContextPackApprox(s, dir).localCheckpoint(true)
      .select($"query_id", $"doc_id").withColumn("in_approx", lit(1L))
    exact.join(approx, Seq("query_id", "doc_id"), "full_outer")
      .groupBy($"query_id")
      .agg(sum(coalesce($"in_exact", lit(0L))).as("n_exact"),
        sum(coalesce($"in_approx", lit(0L))).as("n_approx"),
        sum(when($"in_exact".isNotNull && $"in_approx".isNotNull, 1L)
          .otherwise(0L)).as("n_common"))
      .withColumn("overlap", graft.core.Exact.dround(
        $"n_common".cast("double") /
          greatest($"n_exact".cast("double"), lit(1.0)), 4))
      .orderBy($"query_id".asc)
  }

  // --- q109: int8 scalar quantization of the embedding column -------------
  /** Symmetric per-vector scalar quantization to int8 — the standard
    * 4× memory cut before an ANN index is sharded across a cluster
    * (FAISS SQ8 family): scale = max|v|/127, code_j = round(v_j/scale)
    * ∈ [−127, 127], dequant = code·scale. Everything is per-row
    * projection work (zero exchanges before the census): quantize,
    * dequantize, and the reconstruction error x·x − 2·x·x̂ + x̂·x̂ from
    * the codegen'd sequential dot — bit-identical in both engines, so
    * an approximation operator's ERROR SURFACE is itself under the
    * exact gate. A zero vector (scale 0) quantizes to all-zero codes
    * by definition, not by division accident.
    *
    * Census per label: vectors, worst/mean squared reconstruction
    * error (mean via round(err·2^20) integer sums — q30's rule), and
    * the max |code| as the in-range proof.
    */
  /** (vec_id, label, v, scale, code, deq, err, maxcode) for every
    * vector — the quantize/dequantize/error pipeline [[q109QuantizeInt8]]
    * censuses and SimilarityOps specs probe directly.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val v = vec($"embedding")
    emb.select($"vec_id", $"label", v.as("v"), int8Scale(v).as("scale"))
      .withColumn("code", int8Code($"v", $"scale"))
      .withColumn("deq", transform($"code", c => c.cast("double") * $"scale"))
      .withColumn("err",
        dot($"v", $"v") - lit(2.0) * dot($"v", $"deq") + dot($"deq", $"deq"))
      .withColumn("maxcode", array_max(transform($"code", c => abs(c))))
  }

  def q109QuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    quantizeInt8(Tables.embeddings(s, dir)).groupBy($"label")
      .agg(count(lit(1)).as("n"),
        max($"maxcode").as("max_code"),
        graft.core.Exact.dround(max($"err"), 6).as("worst_err"),
        graft.core.Exact.dround(
          sum(round($"err" * 1048576.0).cast("long")).cast("double")
            / (count(lit(1)) * 1048576.0), 6).as("mean_err"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q29_ann_brute_topk"   -> (q29BruteTopK _),
    "q177_contamination_semantic" -> (q177SemanticContamination _),
    "q178_embedding_drift" -> (q178EmbeddingDrift _),
    "q179_recall_curve"    -> (q179RecallCurve _),
    "q187_matryoshka_recall" -> (q187MatryoshkaRecall _),
    "q30_ann_lsh_buckets"  -> (q30LshBuckets _),
    "q31_embedding_neardup" -> (q31EmbeddingNearDup _),
    "q50_ann_grid_cell"    -> (q50AnnGridCell _),
    "q77_embedding_outliers" -> (q77EmbeddingOutliers _),
    "q97_semdedup"         -> (q97SemDedup _),
    "q117_semdedup_sweep"  -> (q117SemdedupSweep _),
    "q101_ann_ivf"         -> (q101AnnIvf _),
    "q128_ann_ivf_learned" -> (q128AnnIvfLearned _),
    "q165_ann_batch_probe" -> (q165AnnBatchProbe _),
    "q166_rrf_batch_fusion" -> (q166RrfBatchFusion _),
    "q134_rrf_fusion"      -> (q134RrfFusion _),
    "q136_ann_ivf_sq8"     -> (q136AnnIvfSq8 _),
    "q102_kmeans_clusters" -> (q102KmeansClusters _),
    "q109_quantize_int8"   -> (q109QuantizeInt8 _),
    "q139_ivf_append"      -> (q139IvfAppend _),
    "q158_ivf_delete"      -> (q158IvfDelete _),
    "q191_ivf_tenant_probe" -> (q191IvfTenantProbe _),
    "q198_ivf_tenant_maintain" -> (q198IvfTenantMaintain _),
    "q192_ivf_tenant_purge" -> (q192IvfTenantPurge _),
    "q193_ivf_sq8_stored"  -> (q193IvfSq8Stored _),
    "q194_ivf_compact_swap" -> (q194IvfCompactSwap _),
    "q195_ivf_tenant_sq8"  -> (q195IvfTenantSq8 _),
    "q196_context_pack"    -> (q196ContextPack _),
    "q199_context_pack_approx" -> (q199ContextPackApprox _),
    "q147_ann_pq_adc"      -> (q147AnnPqAdc _),
    "q149_ann_ivf_pq"      -> (q149AnnIvfPq _),
    "q197_ivf_pq_stored"   -> (q197IvfPqStored _),
    "q200_ivf_pq_append"   -> (q200IvfPqAppend _),
    "q201_ivf_tenant_pq"   -> (q201IvfTenantPq _),
    "q202_ivf_pq_maintain" -> (q202IvfPqMaintain _),
    "q204_stored_recall"   -> (q204StoredRecall _),
    "q151_pq_sweep"        -> (q151PqSweep _),
  )

  private val sqlDot =
    "list_dot_product(CAST(%s AS DOUBLE[]), CAST(%s AS DOUBLE[]))"
  /** Squared L2 as composed dots — the exact spelling [[kmeansAssign]]
    * uses, so d2 is bit-identical across engines.
    */
  private def d2Sql(a: String, b: String): String =
    s"(${sqlDot.format(a, a)} - 2 * ${sqlDot.format(a, b)}" +
      s" + ${sqlDot.format(b, b)})"
  private def cosSql(a: String, b: String): String =
    s"(${sqlDot.format(a, b)} / (SQRT(${sqlDot.format(a, a)}) * " +
      s"SQRT(${sqlDot.format(b, b)})))"
  private val bucketSql = (1 to 8).map(i =>
    s"CASE WHEN embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString("||")
  private val bandSql = (1 to 8).map(i =>
    s"CASE WHEN embedding[8*b+$i] >= 0 THEN '1' ELSE '0' END").mkString("||")
  private val cellSql = (1 to 8).map(i =>
    s"(CASE WHEN embedding[$i] >= 0 THEN ${1 << (i - 1)} ELSE 0 END)")
    .mkString(" + ")

  /** q136 AND q193 share this oracle: q128's learned-quantizer chain
    * + q109's int8 codes — the probe replays the d2 rule, members
    * score as cosine(code·scale, query) on bit-identical dequantized
    * arrays. The stored layout (q193) must answer byte-identically to
    * the in-query composition (q136): at-rest compression is
    * invisible to ranking.
    */

  /** q149 AND q197 share this oracle: the full IVF-PQ
    * composition — q128's coarse trajectory + residuals + four
    * q147-style subspace trajectories ON RESIDUAL SLICES +
    * per-probed-cell ADC tables (the query's residual differs per
    * cell); fixed-order ADC sum. The stored layout (q197) must
    * answer byte-identically to the in-query composition (q149):
    * at-rest product quantization is invisible to ranking.
    */
  /** The shared WITH-prefix of every PQ oracle (r16 advice: the q201
    * oracle previously derived itself by substring surgery on
    * [[ivfPqSql]], which any edit to the final SELECT would silently
    * corrupt): coarse chain → residuals → four subspace trajectories →
    * per-probed-cell ADC tables, ending at the `encq_m` CTEs the
    * final SELECTs join. Every PQ oracle composes this with its own
    * explicit final SELECT. `nprobe` bounds the `probe` CTE (3 = the
    * serving default; q204's recall sweep takes all 8 cells so every
    * cell's ADC table exists for the windows to rank under).
    */
  private def ivfPqWithPrefix(nprobe: Int = 3): String = {
        def fd2m(m: Int): String = {
          val lo = m * 16 + 1; val hi = lo + 15
          s"""cent0_$m AS (SELECT vec_id AS cl, res[$lo:$hi] AS cvec
             |  FROM res WHERE vec_id BETWEEN 1 AND 16),
             |a1_$m AS (SELECT r.vec_id, r.res[$lo:$hi] AS sv, c.cl,
             |  ${d2Sql(s"r.res[$lo:$hi]", "c.cvec")} AS d2
             | FROM res r CROSS JOIN cent0_$m c),
             |asg1_$m AS (SELECT vec_id, sv, cl FROM a1_$m
             |  QUALIFY row_number() OVER
             |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
             |ex_$m AS (SELECT cl, i,
             |  CAST(ROUND(CAST(sv[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
             | FROM asg1_$m, generate_series(1, 16) g(i)),
             |cm_$m AS (SELECT cl, i,
             |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
             | FROM ex_$m GROUP BY 1, 2),
             |cent1_$m AS (SELECT cl, list(c ORDER BY i) AS cvec
             |  FROM cm_$m GROUP BY 1),
             |enc_$m AS (SELECT r.vec_id, r.cell, c.cl,
             |  ${d2Sql(s"r.res[$lo:$hi]", "c.cvec")} AS d2
             | FROM res r CROSS JOIN cent1_$m c
             | QUALIFY row_number() OVER
             |    (PARTITION BY r.vec_id ORDER BY d2 ASC, c.cl ASC) = 1),
             |tab_$m AS (SELECT t.cell, c.cl,
             |  ${d2Sql(s"t.qres[$lo:$hi]", "c.cvec")} AS qd2
             | FROM qres t CROSS JOIN cent1_$m c),
             |encq_$m AS (SELECT e.vec_id, e.cell, e.cl, t.qd2
             |  FROM enc_$m e JOIN tab_$m t
             |   ON t.cell = e.cell AND t.cl = e.cl)""".stripMargin
        }
        s"""WITH cent0 AS (SELECT vec_id AS cl, embedding AS cvec
           |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
           |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
           |  ${d2Sql("e.embedding", "c.cvec")} AS d2
           | FROM embeddings e CROSS JOIN cent0 c),
           |asg1 AS (SELECT vec_id, embedding, cl FROM a1
           |  QUALIFY row_number() OVER
           |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
           |ex AS (SELECT cl, i,
           |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
           | FROM asg1, generate_series(1, 64) g(i)),
           |cm AS (SELECT cl, i,
           |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
           | FROM ex GROUP BY 1, 2),
           |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
           |a2 AS (SELECT e.vec_id, e.embedding, c.cl,
           |  ${d2Sql("e.embedding", "c.cvec")} AS d2
           | FROM embeddings e CROSS JOIN cent1 c),
           |idx AS (SELECT vec_id, embedding, cl AS cell FROM a2
           |  QUALIFY row_number() OVER
           |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
           |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
           |  WHERE vec_id = 0),
           |probe AS (SELECT c.cl AS cell, c.cvec AS centroid
           |  FROM cent1 c CROSS JOIN q
           |  ORDER BY ${d2Sql("q.qv", "c.cvec")} ASC, c.cl ASC
           |  LIMIT $nprobe),
           |rex AS (SELECT i.vec_id, i.cell, g.i,
           |  CAST(i.embedding[g.i] AS DOUBLE) - c.cvec[g.i] AS v
           | FROM idx i JOIN cent1 c ON c.cl = i.cell,
           |  generate_series(1, 64) g(i)),
           |res AS (SELECT vec_id, cell, list(v ORDER BY i) AS res
           |  FROM rex GROUP BY 1, 2),
           |qrx AS (SELECT p.cell, g.i, q.qv[g.i] - p.centroid[g.i] AS v
           |  FROM probe p CROSS JOIN q, generate_series(1, 64) g(i)),
           |qres AS (SELECT cell, list(v ORDER BY i) AS qres
           |  FROM qrx GROUP BY 1),
           |${(0 until 4).map(fd2m).mkString(",\n")}
           |""".stripMargin
  }

  private val pqAdcSql = "e0.qd2 + e1.qd2 + e2.qd2 + e3.qd2"

  private lazy val ivfPqSql: String = {
    val adc = pqAdcSql
    ivfPqWithPrefix() +
      s"""SELECT e0.vec_id, e0.cell,
         | CONCAT_WS('-', e0.cl, e1.cl, e2.cl, e3.cl) AS code,
         | ${graft.core.Exact.sqlDround(adc, 6)} AS adc_d2
         |FROM encq_0 e0 JOIN encq_1 e1 USING (vec_id)
         | JOIN encq_2 e2 USING (vec_id) JOIN encq_3 e3 USING (vec_id)
         |WHERE e0.vec_id != 0
         |ORDER BY ${graft.core.Exact.sqlDround(adc, 6)} ASC,
         | e0.vec_id ASC LIMIT 10""".stripMargin
  }

  /** The q201 oracle: the SAME PQ chain ([[ivfPqWithPrefix]]) with the
    * final per-corpus top-10 swapped for per-tenant top-10s (label
    * joined back from embeddings — codes and cells are per-row, so
    * the tenant split is a pure partition of the q149 candidate set).
    * Mirrors how ivfTenantProbeSql relates to the q128 chain.
    */
  private lazy val ivfTenantPqSql: String = {
    val adc = pqAdcSql
    ivfPqWithPrefix() +
      s"""SELECT CAST(x.label AS BIGINT) AS tenant, e0.vec_id, e0.cell,
         | CONCAT_WS('-', e0.cl, e1.cl, e2.cl, e3.cl) AS code,
         | ${graft.core.Exact.sqlDround(adc, 6)} AS adc_d2
         |FROM encq_0 e0 JOIN encq_1 e1 USING (vec_id)
         | JOIN encq_2 e2 USING (vec_id) JOIN encq_3 e3 USING (vec_id)
         | JOIN embeddings x ON x.vec_id = e0.vec_id
         |WHERE e0.vec_id != 0 AND x.label IN (0, 1)
         |QUALIFY row_number() OVER (PARTITION BY x.label
         |  ORDER BY ${graft.core.Exact.sqlDround(adc, 6)} ASC,
         |   e0.vec_id ASC) <= 10
         |ORDER BY tenant ASC, ${graft.core.Exact.sqlDround(adc, 6)} ASC,
         | e0.vec_id ASC""".stripMargin
  }


  /** q191 AND q198 share this oracle: q128's trained trajectory
    * with label carried through; probe cells are query-vs-centroid
    * only (tenant-independent), then per-tenant rounded-cosine
    * top-10 among that tenant's members of the probed cells —
    * isolation as a hash fact. The stream-built layout (q198) must
    * answer identically to the batch-built one (q191): frozen-
    * centroid assignment is a pure per-row function, so HOW rows
    * arrived (one batch write vs staged micro-batches) is invisible
    * to probes.
    */
  private lazy val ivfTenantProbeSql: String =
      s"""WITH cent0 AS (SELECT vec_id AS cl, embedding AS cvec
         |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent0 c),
         |asg1 AS (SELECT vec_id, embedding, cl FROM a1
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |ex AS (SELECT cl, i,
         |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
         | FROM asg1, generate_series(1, 64) g(i)),
         |cm AS (SELECT cl, i,
         |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
         | FROM ex GROUP BY 1, 2),
         |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
         |a2 AS (SELECT e.vec_id, e.embedding, e.label, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent1 c),
         |idx AS (SELECT vec_id, embedding, label, cl AS cell FROM a2
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
         |probe AS (SELECT c.cl AS cell FROM cent1 c CROSS JOIN q
         |  ORDER BY ${d2Sql("q.qemb", "c.cvec")} ASC, c.cl ASC
         |  LIMIT 3)
         |SELECT CAST(i.label AS BIGINT) AS tenant, i.vec_id, i.cell,
         | ROUND(${cosSql("i.embedding", "q.qemb")}, 6) AS cos
         |FROM idx i JOIN probe USING (cell) CROSS JOIN q
         |WHERE i.vec_id != 0 AND i.label IN (0, 1)
         |QUALIFY row_number() OVER (PARTITION BY i.label
         |  ORDER BY ROUND(${cosSql("i.embedding", "q.qemb")}, 6) DESC,
         |   i.vec_id ASC) <= 10
         |ORDER BY tenant ASC,
         | ROUND(${cosSql("i.embedding", "q.qemb")}, 6) DESC,
         | i.vec_id ASC""".stripMargin

  private lazy val sq8ProbeSql: String =
    s"""WITH cent0 AS (SELECT vec_id AS cl, embedding AS cvec
       |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
       |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
       |  ${d2Sql("e.embedding", "c.cvec")} AS d2
       | FROM embeddings e CROSS JOIN cent0 c),
       |asg1 AS (SELECT vec_id, embedding, cl FROM a1
       |  QUALIFY row_number() OVER
       |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
       |ex AS (SELECT cl, i,
       |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
       | FROM asg1, generate_series(1, 64) g(i)),
       |cm AS (SELECT cl, i,
       |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
       | FROM ex GROUP BY 1, 2),
       |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
       |a2 AS (SELECT e.vec_id, c.cl,
       |  ${d2Sql("e.embedding", "c.cvec")} AS d2
       | FROM embeddings e CROSS JOIN cent1 c),
       |idx AS (SELECT vec_id, cl AS cell FROM a2
       |  QUALIFY row_number() OVER
       |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
       |sq AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |  list_max(list_transform(CAST(embedding AS DOUBLE[]),
       |    x -> abs(x))) / 127.0 AS scale
       | FROM embeddings),
       |codes AS (SELECT vec_id, scale,
       |  CASE WHEN scale = 0
       |   THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |   ELSE list_transform(v, x -> CAST(ROUND(x / scale) AS BIGINT))
       |   END AS code
       | FROM sq),
       |dq AS (SELECT vec_id,
       |  list_transform(code, x -> CAST(x AS DOUBLE) * scale) AS deq
       | FROM codes),
       |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
       |probe AS (SELECT c.cl AS cell FROM cent1 c CROSS JOIN q
       |  ORDER BY ${d2Sql("q.qemb", "c.cvec")} ASC, c.cl ASC
       |  LIMIT 3)
       |SELECT i.vec_id, i.cell,
       | ROUND(${cosSql("d.deq", "q.qemb")}, 6) AS cos
       |FROM idx i JOIN probe USING (cell)
       |JOIN dq d ON d.vec_id = i.vec_id CROSS JOIN q
       |WHERE i.vec_id != 0
       |ORDER BY ROUND(${cosSql("d.deq", "q.qemb")}, 6) DESC,
       | i.vec_id ASC
       |LIMIT 10""".stripMargin

  /** One hybrid query's fused top-10 as oracle SQL (shared by the
    * q166 and q196 oracles): the lexical chain is bm25OracleOver's
    * replay over the query's terms, the dense chain q29's brute
    * device on the query's vector, fusion the rank-only Σ 1/(60+rank).
    */
  private def rrfPerQuerySql(qid: Long, vid: Long): String = {
    val terms = graft.operators.TextAnalysis.Bm25Batch
      .find(_._1 == qid).get._2
    s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id, rrf,
       | n_systems, bm25_rank, ann_rank FROM (
       |WITH bm AS (SELECT doc_id, 'bm25' AS sys, row_number() OVER
       |  (ORDER BY score DESC, doc_id ASC) AS rank
       | FROM (${graft.operators.TextAnalysis
                  .bm25OracleOver("TRUE", terms)})),
       |anntop AS (SELECT e.vec_id AS doc_id,
       |  ROUND(${cosSql("e.embedding", "q.embedding")}, 6) AS cos
       | FROM embeddings e CROSS JOIN
       |  (SELECT embedding FROM embeddings WHERE vec_id = $vid) q
       | WHERE e.vec_id != $vid
       | ORDER BY ROUND(${cosSql("e.embedding", "q.embedding")}, 6)
       |   DESC, e.vec_id ASC LIMIT 10),
       |ann AS (SELECT doc_id, 'ann' AS sys, row_number() OVER
       |  (ORDER BY cos DESC, doc_id ASC) AS rank FROM anntop),
       |u AS (SELECT * FROM bm UNION ALL SELECT * FROM ann)
       |SELECT doc_id,
       | ${graft.core.Exact.sqlDround(
           "SUM(1.0 / (60.0 + CAST(rank AS DOUBLE)))", 6)} AS rrf,
       | COUNT(*) AS n_systems,
       | MIN(CASE WHEN sys = 'bm25' THEN rank END) AS bm25_rank,
       | MIN(CASE WHEN sys = 'ann' THEN rank END) AS ann_rank
       |FROM u GROUP BY 1
       |ORDER BY rrf DESC, doc_id ASC LIMIT 10)""".stripMargin
  }

  override def oracleSql: Map[String, String] = Map(
    "q77_embedding_outliers" ->
      // dim fixed at 64 in every SF (generator contract); elements
      // snap to round(v * 2^20) — exact in a double for any float, and
      // dyadic halves round the same way in both engines — so the
      // integer centroid sums are bit-identical
      s"""WITH ex AS (SELECT vec_id, label, i,
         |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
         | FROM embeddings, generate_series(1, 64) g(i)),
         |cent AS (SELECT label, i,
         |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
         | FROM ex GROUP BY 1, 2),
         |carr AS (SELECT label, list(c ORDER BY i) AS cvec FROM cent GROUP BY 1),
         |d AS (SELECT e.vec_id, e.label,
         |  ${sqlDot.format("e.embedding", "e.embedding")}
         |  - 2 * ${sqlDot.format("e.embedding", "cvec")}
         |  + ${sqlDot.format("cvec", "cvec")} AS d2
         | FROM embeddings e JOIN carr USING (label))
         |SELECT vec_id, label,
         | CAST(ROUND(CAST(d2 AS DECIMAL(28,10)), 4) AS DOUBLE) AS dist2
         |FROM d
         |ORDER BY CAST(ROUND(CAST(d2 AS DECIMAL(28,10)), 4) AS DOUBLE) DESC,
         | vec_id ASC
         |LIMIT 10""".stripMargin,
    "q177_contamination_semantic" ->
      // identical per-pair rounded cosines (undefined -> -2), per-eval
      // max over identical doubles, integer-scaled banding with the
      // negative side clamped into band 0 in both engines; eval set =
      // the fixed-size smallest-md5 sample (the engine's evalSampleIds)
      s"""WITH ids AS (SELECT vec_id AS eval_id FROM embeddings
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
         |  LIMIT $EvalSampleN),
         |ev AS (SELECT eval_id, embedding AS evv
         |  FROM embeddings JOIN ids ON vec_id = eval_id),
         |tr AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id NOT IN (SELECT eval_id FROM ids)),
         |sc AS (SELECT eval_id,
         |  MAX(COALESCE(ROUND(${cosSql("tr.embedding", "ev.evv")}, 6),
         |    -2.0)) AS max_cos
         | FROM tr CROSS JOIN ev GROUP BY 1),
         |b AS (SELECT GREATEST(0, LEAST(9,
         |    CAST(ROUND(max_cos * 1000000) AS BIGINT) // 100000))
         |    AS band,
         |  CASE WHEN max_cos >= 0.95 THEN 1 ELSE 0 END AS fl FROM sc),
         |sp AS (SELECT CAST(g AS BIGINT) AS band
         |  FROM generate_series(0, 9) t(g))
         |SELECT sp.band, CAST(COUNT(b.band) AS BIGINT) AS n_eval,
         | CAST(COALESCE(SUM(fl), 0) AS BIGINT) AS n_flagged
         |FROM sp LEFT JOIN b USING (band)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q178_embedding_drift" ->
      // q139's trained-on-base trajectory + frozen-centroid assignment
      // of the full corpus, then q176's PSI spelling over the k-cell
      // spine (Laplace +1/+8, LN of a ratio of integer products)
      s"""WITH sp AS (SELECT MAX(vec_id) // 2 AS split FROM embeddings),
         |base AS (SELECT vec_id, embedding FROM embeddings, sp
         |  WHERE vec_id <= split),
         |cent0 AS (SELECT vec_id AS cl, embedding AS cvec
         |  FROM base WHERE vec_id BETWEEN 1 AND 8),
         |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM base e CROSS JOIN cent0 c),
         |asg1 AS (SELECT vec_id, embedding, cl FROM a1
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |ex AS (SELECT cl, i,
         |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
         | FROM asg1, generate_series(1, 64) g(i)),
         |cm AS (SELECT cl, i,
         |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
         | FROM ex GROUP BY 1, 2),
         |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
         |a2 AS (SELECT e.vec_id,
         |  CASE WHEN e.vec_id <= sp.split THEN 1 ELSE 0 END AS in_a,
         |  c.cl, ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN sp CROSS JOIN cent1 c),
         |asg2 AS (SELECT vec_id, in_a, cl AS cell FROM a2
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |cnt AS (SELECT cell, CAST(SUM(in_a) AS BIGINT) AS n_a0,
         |  CAST(SUM(1 - in_a) AS BIGINT) AS n_b0 FROM asg2 GROUP BY 1),
         |spn AS (SELECT CAST(g AS BIGINT) AS cell
         |  FROM generate_series(1, 8) t(g)),
         |f AS (SELECT cell, COALESCE(n_a0, 0) AS n_a,
         |  COALESCE(n_b0, 0) AS n_b
         | FROM spn LEFT JOIN cnt USING (cell)),
         |t AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
         |  CAST(SUM(n_b) AS BIGINT) AS tb FROM f)
         |SELECT cell, n_a, n_b,
         | ${graft.core.Exact.sqlDround(
             "CAST(n_a + 1 AS DOUBLE) / CAST(ta + 8 AS DOUBLE)", 6)}
         |   AS p_a,
         | ${graft.core.Exact.sqlDround(
             "CAST(n_b + 1 AS DOUBLE) / CAST(tb + 8 AS DOUBLE)", 6)}
         |   AS p_b,
         | ${graft.core.Exact.sqlDround(
             "(CAST(n_a + 1 AS DOUBLE) / CAST(ta + 8 AS DOUBLE)" +
             " - CAST(n_b + 1 AS DOUBLE) / CAST(tb + 8 AS DOUBLE))" +
             " * LN((CAST(n_a + 1 AS DOUBLE) * CAST(tb + 8 AS DOUBLE))" +
             " / (CAST(n_b + 1 AS DOUBLE) * CAST(ta + 8 AS DOUBLE)))", 6)}
         |   AS psi_term
         |FROM f CROSS JOIN t
         |ORDER BY cell ASC""".stripMargin,
    "q179_recall_curve" ->
      // q128's trained index + FULL probe ranking, per-cell top-10s,
      // then the 8-point sweep / exact baseline / hit counts as
      // windows over that <=80-row frame — same decomposition as the
      // engine so every tie decision is shared
      s"""WITH cent0 AS (SELECT vec_id AS cl, embedding AS cvec
         |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent0 c),
         |asg1 AS (SELECT vec_id, embedding, cl FROM a1
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |ex AS (SELECT cl, i,
         |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
         | FROM asg1, generate_series(1, 64) g(i)),
         |cm AS (SELECT cl, i,
         |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
         | FROM ex GROUP BY 1, 2),
         |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
         |a2 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent1 c),
         |idx AS (SELECT vec_id, embedding, cl AS cell FROM a2
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
         |crk AS (SELECT c.cl AS cell, row_number() OVER
         |    (ORDER BY ${d2Sql("q.qemb", "c.cvec")} ASC, c.cl ASC) AS prk
         |  FROM cent1 c CROSS JOIN q),
         |mem AS (SELECT i.vec_id, i.embedding, i.cell, crk.prk
         |  FROM idx i JOIN crk USING (cell) WHERE i.vec_id != 0),
         |pc AS (SELECT vec_id, cos, prk FROM (
         |   SELECT m.vec_id, m.cell, m.prk,
         |    ROUND(${cosSql("m.embedding", "q.qemb")}, 6) AS cos
         |   FROM mem m CROSS JOIN q)
         |  QUALIFY row_number() OVER
         |    (PARTITION BY cell ORDER BY cos DESC, vec_id ASC) <= 10),
         |exact AS (SELECT vec_id FROM pc
         |  QUALIFY row_number() OVER
         |    (ORDER BY cos DESC, vec_id ASC) <= 10),
         |spn AS (SELECT CAST(g AS BIGINT) AS nprobe
         |  FROM generate_series(1, 8) t(g)),
         |pr AS (SELECT nprobe, vec_id FROM (
         |   SELECT n.nprobe, pc.vec_id, pc.cos
         |   FROM spn n JOIN pc ON pc.prk <= n.nprobe)
         |  QUALIFY row_number() OVER
         |    (PARTITION BY nprobe ORDER BY cos DESC, vec_id ASC) <= 10),
         |hits AS (SELECT nprobe,
         |  CAST(COUNT(e.vec_id) AS BIGINT) AS n_hits
         | FROM pr LEFT JOIN exact e USING (vec_id) GROUP BY 1),
         |sizes AS (SELECT prk, CAST(COUNT(*) AS BIGINT) AS nm
         |  FROM mem GROUP BY 1),
         |cost AS (SELECT n.nprobe, CAST(SUM(s.nm) AS BIGINT) AS n_scanned
         |  FROM spn n JOIN sizes s ON s.prk <= n.nprobe GROUP BY 1)
         |SELECT n.nprobe, COALESCE(cost.n_scanned, 0) AS n_scanned,
         | COALESCE(hits.n_hits, 0) AS n_hits,
         | ${graft.core.Exact.sqlDround(
             "CAST(COALESCE(hits.n_hits, 0) AS DOUBLE) / 10.0", 6)}
         |   AS recall
         |FROM spn n LEFT JOIN hits USING (nprobe)
         |LEFT JOIN cost USING (nprobe)
         |ORDER BY n.nprobe ASC""".stripMargin,
    "q187_matryoshka_recall" -> {
      val dims = Seq(16, 32, 48, 64)
      def pcos(d: Int): String = {
        val ee = s"CAST(e.embedding[1:$d] AS DOUBLE[])"
        val qq = s"CAST(q.qemb[1:$d] AS DOUBLE[])"
        s"ROUND(list_dot_product($ee, $qq) / " +
          s"(SQRT(list_dot_product($ee, $ee)) * " +
          s"SQRT(list_dot_product($qq, $qq))), 6)"
      }
      // identical rounded prefix cosines, identical top-10 tie rules,
      // recall as an integer intersection count vs the dim-64 answer
      s"""WITH q AS (SELECT embedding AS qemb FROM embeddings
         |  WHERE vec_id = 0),
         |sc AS (SELECT e.vec_id,
         |  ${dims.map(d => s"${pcos(d)} AS cos$d").mkString(",\n|  ")}
         | FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0),
         |${dims.map(d =>
              s"t$d AS (SELECT vec_id FROM sc ORDER BY cos$d DESC, " +
                s"vec_id ASC LIMIT 10)").mkString(",\n|")},
         |h AS (${dims.map(d =>
              s"SELECT CAST($d AS BIGINT) AS dim, CAST((SELECT COUNT(*) " +
                s"FROM t$d a JOIN t64 b ON a.vec_id = b.vec_id) " +
                s"AS BIGINT) AS n_hits")
              .mkString("\n| UNION ALL ")})
         |SELECT dim, n_hits,
         | ${graft.core.Exact.sqlDround("CAST(n_hits AS DOUBLE) / 10.0", 6)}
         |   AS recall
         |FROM h ORDER BY dim ASC""".stripMargin
    },
    "q29_ann_brute_topk" ->
      s"""SELECT e.vec_id, e.label,
         | ROUND(${cosSql("e.embedding", "q.embedding")}, 6) AS cos
         |FROM embeddings e CROSS JOIN
         | (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |WHERE e.vec_id != 0
         |ORDER BY ROUND(${cosSql("e.embedding", "q.embedding")}, 6) DESC,
         | e.vec_id ASC LIMIT 10""".stripMargin,
    "q30_ann_lsh_buckets" ->
      s"""SELECT $bucketSql AS bucket, COUNT(*) AS n,
         | CAST(ROUND(CAST((CAST(SUM(CAST(ROUND(SQRT(${sqlDot.format("embedding", "embedding")})
         |   * 1048576.0) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0))
         |   AS DECIMAL(28,10)), 4) AS DOUBLE) AS avg_norm
         |FROM embeddings GROUP BY 1 HAVING COUNT(*) >= 3""".stripMargin,
    "q31_embedding_neardup" ->
      s"""WITH bands AS (SELECT vec_id, b, $bandSql AS bk
         |  FROM embeddings, generate_series(0, 2) t(b)),
         |reps AS (SELECT b, bk, MIN(vec_id) i FROM bands GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT r.i, bd.vec_id j
         |  FROM bands bd JOIN reps r USING (b, bk) WHERE bd.vec_id > r.i)
         |SELECT c.i, c.j,
         | ROUND(${cosSql("a.embedding", "b.embedding")}, 6) AS cos
         |FROM cand c JOIN embeddings a ON a.vec_id = c.i
         |JOIN embeddings b ON b.vec_id = c.j
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= $NearDupTau""".stripMargin,
    "q117_semdedup_sweep" ->
      // q97's chain wrapped as a base CTE, then a VALUES sweep over
      // the ROUNDED cosine — boundary decisions identical by construction
      s"""WITH cells AS (SELECT vec_id, embedding, $cellSql AS cell
         |  FROM embeddings),
         |reps AS (SELECT cell, MIN(vec_id) AS rep FROM cells GROUP BY 1),
         |rv AS (SELECT r.cell, r.rep, c.embedding AS remb
         |  FROM reps r JOIN cells c ON c.vec_id = r.rep),
         |base AS (SELECT c.vec_id,
         |  CASE WHEN c.vec_id = rv.rep
         |    OR ${cosSql("c.embedding", "rv.remb")} IS NULL
         |    OR isnan(${cosSql("c.embedding", "rv.remb")}) THEN NULL
         |   ELSE ROUND(${cosSql("c.embedding", "rv.remb")}, 6) END AS cos_rep
         |  FROM cells c JOIN rv USING (cell)),
         |taus(tau) AS (VALUES (0.1), (0.25), (0.5), (0.75), (0.9))
         |SELECT tau, COUNT(*) AS n_vecs,
         | CAST(SUM(CASE WHEN cos_rep IS NULL OR cos_rep < tau
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         | CAST(COUNT(*) - SUM(CASE WHEN cos_rep IS NULL OR cos_rep < tau
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         | ${graft.core.Exact.sqlDround(
               "CAST(SUM(CASE WHEN cos_rep IS NULL OR cos_rep < tau " +
               "THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 4)}
         |   AS keep_rate
         |FROM base CROSS JOIN taus GROUP BY tau""".stripMargin,
    "q97_semdedup" ->
      s"""WITH cells AS (SELECT vec_id, embedding, $cellSql AS cell
         |  FROM embeddings),
         |reps AS (SELECT cell, MIN(vec_id) AS rep FROM cells GROUP BY 1),
         |rv AS (SELECT r.cell, r.rep, c.embedding AS remb
         |  FROM reps r JOIN cells c ON c.vec_id = r.rep)
         |SELECT c.vec_id, c.cell,
         | CASE WHEN c.vec_id = rv.rep
         |   OR ${cosSql("c.embedding", "rv.remb")} IS NULL
         |   OR isnan(${cosSql("c.embedding", "rv.remb")}) THEN NULL
         |  ELSE ROUND(${cosSql("c.embedding", "rv.remb")}, 6) END AS cos_rep,
         | (c.vec_id = rv.rep
         |  OR ${cosSql("c.embedding", "rv.remb")} IS NULL
         |  OR isnan(${cosSql("c.embedding", "rv.remb")})
         |  OR ${cosSql("c.embedding", "rv.remb")} < 0.25) AS kept
         |FROM cells c JOIN rv USING (cell)""".stripMargin,
    "q136_ann_ivf_sq8" -> sq8ProbeSql,
    // the stored layout answers BYTE-identically to the in-query
    // composition (at-rest compression is invisible to ranking), so
    // the two rows share ONE oracle verbatim
    "q193_ivf_sq8_stored" -> sq8ProbeSql,
    "q195_ivf_tenant_sq8" ->
      // q191's label-carried trajectory + q136's quantized scoring:
      // per-tenant rounded-cosine top-10 on dequantized byte codes
      s"""WITH cent0 AS (SELECT vec_id AS cl, embedding AS cvec
         |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent0 c),
         |asg1 AS (SELECT vec_id, embedding, cl FROM a1
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |ex AS (SELECT cl, i,
         |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
         | FROM asg1, generate_series(1, 64) g(i)),
         |cm AS (SELECT cl, i,
         |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
         | FROM ex GROUP BY 1, 2),
         |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
         |a2 AS (SELECT e.vec_id, e.label, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent1 c),
         |idx AS (SELECT vec_id, label, cl AS cell FROM a2
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |sq AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |  list_max(list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> abs(x))) / 127.0 AS scale
         | FROM embeddings),
         |codes AS (SELECT vec_id, scale,
         |  CASE WHEN scale = 0
         |   THEN list_transform(v, x -> CAST(0 AS BIGINT))
         |   ELSE list_transform(v, x -> CAST(ROUND(x / scale) AS BIGINT))
         |   END AS code
         | FROM sq),
         |dq AS (SELECT vec_id,
         |  list_transform(code, x -> CAST(x AS DOUBLE) * scale) AS deq
         | FROM codes),
         |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
         |probe AS (SELECT c.cl AS cell FROM cent1 c CROSS JOIN q
         |  ORDER BY ${d2Sql("q.qemb", "c.cvec")} ASC, c.cl ASC
         |  LIMIT 3)
         |SELECT CAST(i.label AS BIGINT) AS tenant, i.vec_id, i.cell,
         | ROUND(${cosSql("d.deq", "q.qemb")}, 6) AS cos
         |FROM idx i JOIN probe USING (cell)
         |JOIN dq d ON d.vec_id = i.vec_id CROSS JOIN q
         |WHERE i.vec_id != 0 AND i.label IN (0, 1)
         |QUALIFY row_number() OVER (PARTITION BY i.label
         |  ORDER BY ROUND(${cosSql("d.deq", "q.qemb")}, 6) DESC,
         |   i.vec_id ASC) <= 10
         |ORDER BY tenant ASC,
         | ROUND(${cosSql("d.deq", "q.qemb")}, 6) DESC,
         | i.vec_id ASC""".stripMargin,
    "q194_ivf_compact_swap" ->
      // one replay of q128's trajectory minus the victims, each row
      // tagged for both pointer stages — the tombstone view and the
      // compacted view are the same logical index
      s"""WITH cent0 AS (SELECT vec_id AS cl, embedding AS cvec
         |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent0 c),
         |asg1 AS (SELECT vec_id, embedding, cl FROM a1
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |ex AS (SELECT cl, i,
         |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
         | FROM asg1, generate_series(1, 64) g(i)),
         |cm AS (SELECT cl, i,
         |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
         | FROM ex GROUP BY 1, 2),
         |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
         |a2 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent1 c),
         |idx AS (SELECT vec_id, embedding, cl AS cell FROM a2
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
         |probe AS (SELECT c.cl AS cell FROM cent1 c CROSS JOIN q
         |  ORDER BY ${d2Sql("q.qemb", "c.cvec")} ASC, c.cl ASC
         |  LIMIT 3),
         |top AS (SELECT i.vec_id, i.cell,
         |  ROUND(${cosSql("i.embedding", "q.qemb")}, 6) AS cos
         | FROM idx i JOIN probe USING (cell) CROSS JOIN q
         | WHERE i.vec_id != 0 AND i.vec_id % 7 != 3
         | ORDER BY ROUND(${cosSql("i.embedding", "q.qemb")}, 6) DESC,
         |  i.vec_id ASC
         | LIMIT 10)
         |SELECT t.vec_id, t.cell, t.cos, s.stage
         |FROM top t CROSS JOIN (SELECT 'tombstoned' AS stage
         |  UNION ALL SELECT 'compacted') s
         |ORDER BY s.stage ASC, t.cos DESC, t.vec_id ASC""".stripMargin,
    "q191_ivf_tenant_probe" -> ivfTenantProbeSql,
    "q198_ivf_tenant_maintain" -> ivfTenantProbeSql,
    "q192_ivf_tenant_purge" ->
      // q191's SURVIVOR leg only: tenant 1 is purged, so the oracle
      // carries zero rows for it — any leaked purged-tenant row fails
      // the row-count gate
      s"""WITH cent0 AS (SELECT vec_id AS cl, embedding AS cvec
         |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent0 c),
         |asg1 AS (SELECT vec_id, embedding, cl FROM a1
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |ex AS (SELECT cl, i,
         |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
         | FROM asg1, generate_series(1, 64) g(i)),
         |cm AS (SELECT cl, i,
         |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
         | FROM ex GROUP BY 1, 2),
         |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
         |a2 AS (SELECT e.vec_id, e.embedding, e.label, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent1 c),
         |idx AS (SELECT vec_id, embedding, label, cl AS cell FROM a2
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
         |probe AS (SELECT c.cl AS cell FROM cent1 c CROSS JOIN q
         |  ORDER BY ${d2Sql("q.qemb", "c.cvec")} ASC, c.cl ASC
         |  LIMIT 3)
         |SELECT CAST(i.label AS BIGINT) AS tenant, i.vec_id, i.cell,
         | ROUND(${cosSql("i.embedding", "q.qemb")}, 6) AS cos
         |FROM idx i JOIN probe USING (cell) CROSS JOIN q
         |WHERE i.vec_id != 0 AND i.label IN (0)
         |QUALIFY row_number() OVER (PARTITION BY i.label
         |  ORDER BY ROUND(${cosSql("i.embedding", "q.qemb")}, 6) DESC,
         |   i.vec_id ASC) <= 10
         |ORDER BY tenant ASC,
         | ROUND(${cosSql("i.embedding", "q.qemb")}, 6) DESC,
         | i.vec_id ASC""".stripMargin,
    "q134_rrf_fusion" ->
      // both retrievals replayed (q130's BM25 chain, q29's brute
      // top-10), ranks from the same total orders, fusion arithmetic
      // on integer ranks, fused order on the ROUNDED score
      s"""WITH d AS (SELECT doc_id, lang,
         |  list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
         | FROM documents),
         |dl AS (SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS dl FROM d),
         |c AS (SELECT COUNT(*) AS nd, CAST(SUM(dl) AS BIGINT) AS tl FROM dl),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS tf
         | FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
         | WHERE tok IN (${TextAnalysis.Bm25Query.map(t => s"'$t'").mkString(", ")})
         | GROUP BY 1, 2),
         |idf AS (SELECT f.tok,
         |  LN(1.0 + (CAST(c.nd - f.df AS DOUBLE) + 0.5)
         |    / (CAST(f.df AS DOUBLE) + 0.5)) AS idf
         | FROM (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1) f
         | CROSS JOIN c),
         |sc AS (SELECT t.doc_id,
         |  i.idf * (CAST(t.tf AS DOUBLE) * (1.2 + 1.0))
         |   / (CAST(t.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
         |     + 0.75 * CAST(dl.dl AS DOUBLE)
         |       / (CAST(c.tl AS DOUBLE) / CAST(c.nd AS DOUBLE)))) AS ts
         | FROM tf t JOIN idf i USING (tok) JOIN dl USING (doc_id)
         | CROSS JOIN c),
         |bmtop AS (SELECT doc_id,
         |  ${graft.core.Exact.sqlDround(
              "CAST(SUM(CAST(ts AS DECIMAL(28,10))) AS DOUBLE)", 6)} AS score
         | FROM sc GROUP BY 1 ORDER BY score DESC, doc_id ASC LIMIT 10),
         |bm AS (SELECT doc_id, 'bm25' AS sys, row_number() OVER
         |  (ORDER BY score DESC, doc_id ASC) AS rank FROM bmtop),
         |anntop AS (SELECT e.vec_id AS doc_id,
         |  ROUND(${cosSql("e.embedding", "q.embedding")}, 6) AS cos
         | FROM embeddings e CROSS JOIN
         |  (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         | WHERE e.vec_id != 0
         | ORDER BY ROUND(${cosSql("e.embedding", "q.embedding")}, 6) DESC,
         |  e.vec_id ASC LIMIT 10),
         |ann AS (SELECT doc_id, 'ann' AS sys, row_number() OVER
         |  (ORDER BY cos DESC, doc_id ASC) AS rank FROM anntop),
         |u AS (SELECT * FROM bm UNION ALL SELECT * FROM ann)
         |SELECT doc_id,
         | ${graft.core.Exact.sqlDround(
             "SUM(1.0 / (60.0 + CAST(rank AS DOUBLE)))", 6)} AS rrf,
         | COUNT(*) AS n_systems,
         | MIN(CASE WHEN sys = 'bm25' THEN rank END) AS bm25_rank,
         | MIN(CASE WHEN sys = 'ann' THEN rank END) AS ann_rank
         |FROM u GROUP BY 1
         |ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin,
    "q101_ann_ivf" ->
      // deterministic IVF twin: centroids = member vectors 1..8 (cell
      // id = the centroid's vec_id); assignment = argmax ROUND(cos,6)
      // with smallest-cell tie-break (row_number mirrors Spark's
      // array_max over struct(acos, -cell)); zero-norm vectors
      // coalesce to -2.0 on both sides; probe = 3 nearest centroids
      s"""WITH cent AS (SELECT vec_id AS cell, embedding AS cemb
         |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         |asg AS (SELECT e.vec_id, e.embedding, c.cell,
         |  COALESCE(ROUND(${cosSql("e.embedding", "c.cemb")}, 6), -2.0) AS acos
         | FROM embeddings e CROSS JOIN cent c),
         |idx AS (SELECT vec_id, embedding, cell FROM asg
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY acos DESC, cell ASC) = 1),
         |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
         |probe AS (SELECT c.cell FROM cent c CROSS JOIN q
         |  ORDER BY ROUND(${cosSql("c.cemb", "q.qemb")}, 6) DESC, c.cell ASC
         |  LIMIT 3)
         |SELECT i.vec_id, i.cell,
         | ROUND(${cosSql("i.embedding", "q.qemb")}, 6) AS cos
         |FROM idx i JOIN probe USING (cell) CROSS JOIN q
         |WHERE i.vec_id != 0
         |ORDER BY ROUND(${cosSql("i.embedding", "q.qemb")}, 6) DESC,
         | i.vec_id ASC
         |LIMIT 10""".stripMargin,
    "q128_ann_ivf_learned" ->
      // q102's exact 2-round Lloyd trajectory (fixed seeds, bit-parity
      // d2, integer-snapped centroid update) re-used as the IVF coarse
      // quantizer: index = final assignment, probe = 3 cells with
      // smallest query-centroid d2 (cl-asc ties), exact cosine top-10
      // within them
      s"""WITH cent0 AS (SELECT vec_id AS cl, embedding AS cvec
         |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent0 c),
         |asg1 AS (SELECT vec_id, embedding, cl FROM a1
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |ex AS (SELECT cl, i,
         |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
         | FROM asg1, generate_series(1, 64) g(i)),
         |cm AS (SELECT cl, i,
         |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
         | FROM ex GROUP BY 1, 2),
         |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
         |a2 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent1 c),
         |idx AS (SELECT vec_id, embedding, cl AS cell FROM a2
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |q AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
         |probe AS (SELECT c.cl AS cell FROM cent1 c CROSS JOIN q
         |  ORDER BY ${d2Sql("q.qemb", "c.cvec")} ASC, c.cl ASC
         |  LIMIT 3)
         |SELECT i.vec_id, i.cell,
         | ROUND(${cosSql("i.embedding", "q.qemb")}, 6) AS cos
         |FROM idx i JOIN probe USING (cell) CROSS JOIN q
         |WHERE i.vec_id != 0
         |ORDER BY ROUND(${cosSql("i.embedding", "q.qemb")}, 6) DESC,
         | i.vec_id ASC
         |LIMIT 10""".stripMargin,
    "q165_ann_batch_probe" ->
      // q128's trained trajectory shared verbatim; the probe/scoring
      // tail generalizes to the query batch via per-query windows
      // (same d2/tie rules, same rounded-cosine rank)
      s"""WITH cent0 AS (SELECT vec_id AS cl, embedding AS cvec
         |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent0 c),
         |asg1 AS (SELECT vec_id, embedding, cl FROM a1
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |ex AS (SELECT cl, i,
         |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
         | FROM asg1, generate_series(1, 64) g(i)),
         |cm AS (SELECT cl, i,
         |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
         | FROM ex GROUP BY 1, 2),
         |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
         |a2 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent1 c),
         |idx AS (SELECT vec_id, embedding, cl AS cell FROM a2
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qemb
         |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |probe AS (SELECT q.query_id, c.cl AS cell, q.qemb
         |  FROM cent1 c CROSS JOIN q
         |  QUALIFY row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${d2Sql("q.qemb", "c.cvec")} ASC, c.cl ASC) <= 3),
         |sc AS (SELECT p.query_id, i.vec_id, i.cell,
         |  ROUND(${cosSql("i.embedding", "p.qemb")}, 6) AS cos
         | FROM idx i JOIN probe p USING (cell)
         | WHERE i.vec_id NOT IN (0, 1, 2))
         |SELECT query_id, vec_id, cell, cos FROM sc
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos DESC, vec_id ASC) <= 10
         |ORDER BY query_id ASC, cos DESC, vec_id ASC""".stripMargin,
    "q166_rrf_batch_fusion" ->
      // q134's fusion per batch query: each query's lexical chain is
      // its own bm25OracleOver replay, its dense chain q29's brute
      // device on its own vector, fused with the identical rank-only
      // arithmetic, per-query LIMIT 10
      HybridBatch.map((rrfPerQuerySql _).tupled)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          ")\nORDER BY query_id ASC, rrf DESC, doc_id ASC"),
    "q196_context_pack" ->
      // q166's fused ranking per query + q130's dl per candidate +
      // an integer running sum in fused order, kept while <= budget
      {
        val perQuery = HybridBatch.map { case (qid, vid) =>
          s"""SELECT query_id, doc_id, rrf, dl, cum_tokens FROM (
             |SELECT f.query_id, f.doc_id, f.rrf, COALESCE(d.dl, 0) AS dl,
             |  CAST(SUM(COALESCE(d.dl, 0)) OVER (ORDER BY f.rrf DESC,
             |    f.doc_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |    AS cum_tokens
             |FROM (${rrfPerQuerySql(qid, vid)}) f
             |LEFT JOIN (SELECT doc_id, CAST(len(list_filter(
             |  string_split(text, ' '), t -> len(t) > 0)) AS BIGINT) AS dl
             |  FROM documents) d USING (doc_id))
             |WHERE cum_tokens <= $ContextBudget""".stripMargin
        }
        perQuery.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          ")\nORDER BY query_id ASC, cum_tokens ASC, doc_id ASC")
      },
    "q199_context_pack_approx" ->
      // q196's packing with the dense leg swapped to q165's IVF
      // ranking: ONE training-trajectory block (q165's oracle CTEs),
      // per-query probe/top-10 via windows, each query's lexical chain
      // its own bm25OracleOver replay, q166's fusion arithmetic,
      // q196's integer prefix rule
      {
        val qmap = HybridBatch
          .map { case (qid, vid) =>
            s"(CAST($qid AS BIGINT), CAST($vid AS BIGINT))" }
          .mkString(", ")
        val vids = AnnBatchIds.mkString(", ")
        val bmLegs = HybridBatch.map { case (qid, _) =>
          val terms = graft.operators.TextAnalysis.Bm25Batch
            .find(_._1 == qid).get._2
          s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
             | 'bm25' AS sys,
             | row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
             |FROM (${graft.operators.TextAnalysis
                        .bm25OracleOver("TRUE", terms)})""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH cent0 AS (SELECT vec_id AS cl, embedding AS cvec
           |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
           |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
           |  ${d2Sql("e.embedding", "c.cvec")} AS d2
           | FROM embeddings e CROSS JOIN cent0 c),
           |asg1 AS (SELECT vec_id, embedding, cl FROM a1
           |  QUALIFY row_number() OVER
           |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
           |ex AS (SELECT cl, i,
           |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
           | FROM asg1, generate_series(1, 64) g(i)),
           |cm AS (SELECT cl, i,
           |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
           | FROM ex GROUP BY 1, 2),
           |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
           |a2 AS (SELECT e.vec_id, e.embedding, c.cl,
           |  ${d2Sql("e.embedding", "c.cvec")} AS d2
           | FROM embeddings e CROSS JOIN cent1 c),
           |idx AS (SELECT vec_id, embedding, cl AS cell FROM a2
           |  QUALIFY row_number() OVER
           |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
           |qv AS (SELECT vec_id AS qvid, embedding AS qemb
           |  FROM embeddings WHERE vec_id IN ($vids)),
           |probe AS (SELECT q.qvid, c.cl AS cell, q.qemb
           |  FROM cent1 c CROSS JOIN qv q
           |  QUALIFY row_number() OVER (PARTITION BY q.qvid
           |    ORDER BY ${d2Sql("q.qemb", "c.cvec")} ASC, c.cl ASC) <= 3),
           |sc AS (SELECT p.qvid, i.vec_id AS doc_id,
           |  ROUND(${cosSql("i.embedding", "p.qemb")}, 6) AS cos
           | FROM idx i JOIN probe p USING (cell)
           | WHERE i.vec_id NOT IN ($vids)),
           |anntop AS (SELECT qvid, doc_id, cos FROM sc
           |  QUALIFY row_number() OVER (PARTITION BY qvid
           |    ORDER BY cos DESC, doc_id ASC) <= 10),
           |qmap(query_id, qvid) AS (VALUES $qmap),
           |ann AS (SELECT m.query_id, a.doc_id, 'ann' AS sys,
           |  row_number() OVER (PARTITION BY a.qvid
           |    ORDER BY a.cos DESC, a.doc_id ASC) AS rank
           | FROM anntop a JOIN qmap m USING (qvid)),
           |u AS (SELECT query_id, doc_id, sys, rank FROM ann
           | UNION ALL
           | $bmLegs),
           |fagg AS (SELECT query_id, doc_id,
           |  ${graft.core.Exact.sqlDround(
                 "SUM(1.0 / (60.0 + CAST(rank AS DOUBLE)))", 6)} AS rrf
           | FROM u GROUP BY 1, 2),
           |f AS (SELECT * FROM fagg
           |  QUALIFY row_number() OVER (PARTITION BY query_id
           |    ORDER BY rrf DESC, doc_id ASC) <= 10),
           |dlt AS (SELECT doc_id, CAST(len(list_filter(
           |  string_split(text, ' '), t -> len(t) > 0)) AS BIGINT) AS dl
           | FROM documents),
           |pk AS (SELECT f.query_id, f.doc_id, f.rrf,
           |  COALESCE(d.dl, 0) AS dl,
           |  CAST(SUM(COALESCE(d.dl, 0)) OVER (PARTITION BY f.query_id
           |    ORDER BY f.rrf DESC, f.doc_id ASC
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           | FROM f LEFT JOIN dlt d USING (doc_id))
           |SELECT query_id, doc_id, rrf, dl, cum_tokens FROM pk
           |WHERE cum_tokens <= $ContextBudget
           |ORDER BY query_id ASC, cum_tokens ASC, doc_id ASC""".stripMargin
      },
    "q149_ann_ivf_pq" -> ivfPqSql,
    // the stored layout must answer byte-identically to the in-query
    // composition — same oracle verbatim (the q136/q193 discipline)
    "q197_ivf_pq_stored" -> ivfPqSql,
    // append is invisible to ranking (frozen-quantizer arrival law)
    "q200_ivf_pq_append" -> ivfPqSql,
    // the stream-built layout answers identically to the batch build —
    // the q198 arrival law at the 4-byte point (same oracle verbatim)
    "q202_ivf_pq_maintain" -> ivfPqSql,
    "q204_stored_recall" -> {
      // the PQ prefix at nprobe=8 (every cell's ADC table exists),
      // then three per-cell-top-10 folds — full/SQ8 ranked by
      // ROUND(cos,6) DESC, PQ by the rounded ADC sum ASC — swept by
      // windows exactly as q179; the exact baseline is q29's brute
      // rule. The SQ8 chain is sq8ProbeSql's quantize/dequantize
      // verbatim; all three layouts share the prefix's coarse idx.
      val adc = graft.core.Exact.sqlDround(pqAdcSql, 6)
      ivfPqWithPrefix(nprobe = 8) +
        s""",crk AS (SELECT c.cl AS cell, row_number() OVER
           |   (ORDER BY ${d2Sql("q.qv", "c.cvec")} ASC, c.cl ASC) AS prk
           |  FROM cent1 c CROSS JOIN q),
           |exact AS (SELECT e.vec_id FROM embeddings e CROSS JOIN q
           |  WHERE e.vec_id != 0
           |  QUALIFY row_number() OVER
           |    (ORDER BY ROUND(${cosSql("e.embedding", "q.qv")}, 6) DESC,
           |     e.vec_id ASC) <= 10),
           |spn AS (SELECT CAST(g AS BIGINT) AS nprobe
           |  FROM generate_series(1, 8) t(g)),
           |pcf AS (SELECT vec_id, sc, prk FROM (
           |   SELECT i.vec_id, i.cell, k.prk,
           |    ROUND(${cosSql("i.embedding", "q.qv")}, 6) AS sc
           |   FROM idx i JOIN crk k ON k.cell = i.cell CROSS JOIN q
           |   WHERE i.vec_id != 0)
           |  QUALIFY row_number() OVER
           |    (PARTITION BY cell ORDER BY sc DESC, vec_id ASC) <= 10),
           |sq AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           |  list_max(list_transform(CAST(embedding AS DOUBLE[]),
           |    x -> abs(x))) / 127.0 AS scale
           | FROM embeddings),
           |codes AS (SELECT vec_id, scale,
           |  CASE WHEN scale = 0
           |   THEN list_transform(v, x -> CAST(0 AS BIGINT))
           |   ELSE list_transform(v, x -> CAST(ROUND(x / scale) AS BIGINT))
           |   END AS code
           | FROM sq),
           |dq AS (SELECT vec_id,
           |  list_transform(code, x -> CAST(x AS DOUBLE) * scale) AS deq
           | FROM codes),
           |pcs AS (SELECT vec_id, sc, prk FROM (
           |   SELECT i.vec_id, i.cell, k.prk,
           |    ROUND(${cosSql("d.deq", "q.qv")}, 6) AS sc
           |   FROM idx i JOIN crk k ON k.cell = i.cell
           |   JOIN dq d ON d.vec_id = i.vec_id CROSS JOIN q
           |   WHERE i.vec_id != 0)
           |  QUALIFY row_number() OVER
           |    (PARTITION BY cell ORDER BY sc DESC, vec_id ASC) <= 10),
           |pcp AS (SELECT vec_id, sc, prk FROM (
           |   SELECT e0.vec_id, e0.cell, k.prk, $adc AS sc
           |   FROM encq_0 e0 JOIN encq_1 e1 USING (vec_id)
           |    JOIN encq_2 e2 USING (vec_id) JOIN encq_3 e3 USING (vec_id)
           |    JOIN crk k ON k.cell = e0.cell
           |   WHERE e0.vec_id != 0)
           |  QUALIFY row_number() OVER
           |    (PARTITION BY cell ORDER BY sc ASC, vec_id ASC) <= 10),
           |prf AS (SELECT nprobe, vec_id FROM (
           |   SELECT n.nprobe, p.vec_id, p.sc
           |   FROM spn n JOIN pcf p ON p.prk <= n.nprobe)
           |  QUALIFY row_number() OVER
           |    (PARTITION BY nprobe ORDER BY sc DESC, vec_id ASC) <= 10),
           |prs AS (SELECT nprobe, vec_id FROM (
           |   SELECT n.nprobe, p.vec_id, p.sc
           |   FROM spn n JOIN pcs p ON p.prk <= n.nprobe)
           |  QUALIFY row_number() OVER
           |    (PARTITION BY nprobe ORDER BY sc DESC, vec_id ASC) <= 10),
           |prp AS (SELECT nprobe, vec_id FROM (
           |   SELECT n.nprobe, p.vec_id, p.sc
           |   FROM spn n JOIN pcp p ON p.prk <= n.nprobe)
           |  QUALIFY row_number() OVER
           |    (PARTITION BY nprobe ORDER BY sc ASC, vec_id ASC) <= 10),
           |hf AS (SELECT nprobe, CAST(COUNT(e.vec_id) AS BIGINT) AS n_hits
           |  FROM prf LEFT JOIN exact e USING (vec_id) GROUP BY 1),
           |hs AS (SELECT nprobe, CAST(COUNT(e.vec_id) AS BIGINT) AS n_hits
           |  FROM prs LEFT JOIN exact e USING (vec_id) GROUP BY 1),
           |hp AS (SELECT nprobe, CAST(COUNT(e.vec_id) AS BIGINT) AS n_hits
           |  FROM prp LEFT JOIN exact e USING (vec_id) GROUP BY 1)
           |SELECT * FROM (
           | SELECT 'full' AS layout, nprobe, n_hits,
           |  ${graft.core.Exact.sqlDround(
                "CAST(n_hits AS DOUBLE) / 10.0", 6)} AS recall FROM hf
           | UNION ALL
           | SELECT 'sq8' AS layout, nprobe, n_hits,
           |  ${graft.core.Exact.sqlDround(
                "CAST(n_hits AS DOUBLE) / 10.0", 6)} AS recall FROM hs
           | UNION ALL
           | SELECT 'pq' AS layout, nprobe, n_hits,
           |  ${graft.core.Exact.sqlDround(
                "CAST(n_hits AS DOUBLE) / 10.0", 6)} AS recall FROM hp)
           |ORDER BY layout ASC, nprobe ASC""".stripMargin
    },
    // q149's chain, per-tenant top-10s — tenant isolation at the
    // 4-byte compression point as a hash fact
    "q201_ivf_tenant_pq" -> ivfTenantPqSql,
    "q151_pq_sweep" ->
      // 14 independent subspace trajectories (budgets 2+4+8), each the
      // q102 chain on its slice; per-vector min-d2 snapped to ints
      // before the global sum, one census row per budget
      {
        def chain(b: Int, m: Int): String = {
          val subDim = 64 / b
          val lo = m * subDim + 1; val hi = lo + subDim - 1
          val sl = s"e.embedding[$lo:$hi]"
          s"""c0_${b}_$m AS (SELECT vec_id AS cl, embedding[$lo:$hi] AS cvec
             |  FROM embeddings WHERE vec_id BETWEEN 1 AND 16),
             |a1_${b}_$m AS (SELECT e.vec_id, $sl AS sv, c.cl,
             |  ${d2Sql(sl, "c.cvec")} AS d2
             | FROM embeddings e CROSS JOIN c0_${b}_$m c),
             |g1_${b}_$m AS (SELECT vec_id, sv, cl FROM a1_${b}_$m
             |  QUALIFY row_number() OVER
             |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
             |ex_${b}_$m AS (SELECT cl, i,
             |  CAST(ROUND(CAST(sv[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
             | FROM g1_${b}_$m, generate_series(1, $subDim) g(i)),
             |cm_${b}_$m AS (SELECT cl, i,
             |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
             | FROM ex_${b}_$m GROUP BY 1, 2),
             |c1_${b}_$m AS (SELECT cl, list(c ORDER BY i) AS cvec
             |  FROM cm_${b}_$m GROUP BY 1),
             |er_${b}_$m AS (SELECT e.vec_id,
             |  CAST(ROUND(MIN(${d2Sql(sl, "c.cvec")}) * 1048576.0) AS BIGINT)
             |    AS q
             | FROM embeddings e CROSS JOIN c1_${b}_$m c GROUP BY 1)"""
            .stripMargin
        }
        def census(b: Int): String = {
          val un = (0 until b).map(m => s"SELECT q FROM er_${b}_$m")
            .mkString(" UNION ALL ")
          s"""SELECT CAST($b AS BIGINT) AS bytes_per_vec,
             | ${graft.core.Exact.sqlDround(
                 "CAST(SUM(q) AS DOUBLE) / ((SELECT COUNT(*) FROM embeddings)" +
                 " * 1048576.0)", 6)} AS mean_err
             |FROM ($un)""".stripMargin
        }
        val chains = Seq(2, 4, 8)
          .flatMap(b => (0 until b).map(m => chain(b, m))).mkString(",\n")
        s"""WITH $chains
           |SELECT * FROM (
           |${Seq(2, 4, 8).map(census).mkString(" UNION ALL\n")}
           |) ORDER BY bytes_per_vec ASC""".stripMargin
      },
    "q139_ivf_append" ->
      // q128's trained-on-base trajectory + frozen-centroid assignment
      // of the second half: the merged-index census proves appended
      // vectors land exactly where the assignment rule puts them
      s"""WITH sp AS (SELECT MAX(vec_id) // 2 AS split FROM embeddings),
         |base AS (SELECT vec_id, embedding FROM embeddings, sp
         |  WHERE vec_id <= split),
         |cent0 AS (SELECT vec_id AS cl, embedding AS cvec
         |  FROM base WHERE vec_id BETWEEN 1 AND 8),
         |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM base e CROSS JOIN cent0 c),
         |asg1 AS (SELECT vec_id, embedding, cl FROM a1
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |ex AS (SELECT cl, i,
         |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
         | FROM asg1, generate_series(1, 64) g(i)),
         |cm AS (SELECT cl, i,
         |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
         | FROM ex GROUP BY 1, 2),
         |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
         |a2 AS (SELECT e.vec_id,
         |  CASE WHEN e.vec_id <= sp.split THEN 1 ELSE 0 END AS is_base,
         |  c.cl, ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN sp CROSS JOIN cent1 c),
         |asg2 AS (SELECT vec_id, is_base, cl AS cell FROM a2
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1)
         |SELECT cell, CAST(SUM(is_base) AS BIGINT) AS n_base,
         | CAST(SUM(1 - is_base) AS BIGINT) AS n_new,
         | COUNT(*) AS n_total,
         | CAST(SUM(vec_id) AS BIGINT) AS id_sum
         |FROM asg2 GROUP BY 1""".stripMargin,
    "q158_ivf_delete" ->
      // q102's trained trajectory (the asg2 assignment), tombstones as
      // the pure-integer predicate vec_id % 7 = 3, live/dead census
      s"""WITH cent0 AS (SELECT vec_id AS cl, embedding AS cvec
         |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent0 c),
         |asg1 AS (SELECT vec_id, embedding, cl FROM a1
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |ex AS (SELECT cl, i,
         |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
         | FROM asg1, generate_series(1, 64) g(i)),
         |cm AS (SELECT cl, i,
         |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
         | FROM ex GROUP BY 1, 2),
         |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
         |a2 AS (SELECT e.vec_id, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent1 c),
         |asg2 AS (SELECT vec_id, cl AS cell,
         |  CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END AS dead
         | FROM a2
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1)
         |SELECT cell, CAST(SUM(1 - dead) AS BIGINT) AS n_live,
         | CAST(SUM(dead) AS BIGINT) AS n_deleted,
         | CAST(SUM(CASE WHEN dead = 0 THEN vec_id ELSE 0 END) AS BIGINT)
         |   AS live_id_sum
         |FROM asg2 GROUP BY 1""".stripMargin,
    "q147_ann_pq_adc" ->
      // four independent q102-style subspace trajectories on slices,
      // then ADC: the chosen codeword's query-distance entries sum in
      // the same fixed left-to-right order as the Spark column
      {
        def subCtes(m: Int): String = {
          val lo = m * 16 + 1; val hi = lo + 15
          val sl = s"e.embedding[$lo:$hi]"
          s"""cent0_$m AS (SELECT vec_id AS cl, embedding[$lo:$hi] AS cvec
             |  FROM embeddings WHERE vec_id BETWEEN 1 AND 16),
             |a1_$m AS (SELECT e.vec_id, e.embedding[$lo:$hi] AS sv, c.cl,
             |  ${d2Sql(sl, "c.cvec")} AS d2
             | FROM embeddings e CROSS JOIN cent0_$m c),
             |asg1_$m AS (SELECT vec_id, sv, cl FROM a1_$m
             |  QUALIFY row_number() OVER
             |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
             |ex_$m AS (SELECT cl, i,
             |  CAST(ROUND(CAST(sv[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
             | FROM asg1_$m, generate_series(1, 16) g(i)),
             |cm_$m AS (SELECT cl, i,
             |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
             | FROM ex_$m GROUP BY 1, 2),
             |cent1_$m AS (SELECT cl, list(c ORDER BY i) AS cvec
             |  FROM cm_$m GROUP BY 1),
             |enc_$m AS (SELECT e.vec_id, c.cl,
             |  ${d2Sql(sl, "c.cvec")} AS d2,
             |  ${d2Sql(s"q.qv[$lo:$hi]", "c.cvec")} AS qd2
             | FROM embeddings e CROSS JOIN cent1_$m c CROSS JOIN q
             | QUALIFY row_number() OVER
             |    (PARTITION BY e.vec_id ORDER BY d2 ASC, c.cl ASC) = 1)"""
            .stripMargin
        }
        val adc = "e0.qd2 + e1.qd2 + e2.qd2 + e3.qd2"
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings
           |  WHERE vec_id = 0),
           |${(0 until 4).map(subCtes).mkString(",\n")}
           |SELECT e0.vec_id,
           | CONCAT_WS('-', e0.cl, e1.cl, e2.cl, e3.cl) AS code,
           | ${graft.core.Exact.sqlDround(adc, 6)} AS adc_d2,
           | ${graft.core.Exact.sqlDround(
               cosSql("emb.embedding", "q.qv"), 6)} AS cos_true
           |FROM enc_0 e0 JOIN enc_1 e1 USING (vec_id)
           | JOIN enc_2 e2 USING (vec_id) JOIN enc_3 e3 USING (vec_id)
           | JOIN embeddings emb USING (vec_id) CROSS JOIN q
           |WHERE vec_id != 0
           |ORDER BY ${graft.core.Exact.sqlDround(adc, 6)} ASC, vec_id ASC
           |LIMIT 10""".stripMargin
      },
    "q102_kmeans_clusters" ->
      // the identical 2-round Lloyd trajectory: fixed seed centroids
      // (vectors 1..8), argmin d2 with smallest-cl tie-break
      // (row_number mirrors Spark's array_min over struct(d2, cl)),
      // centroid update from round(v*2^20) integer sums (q77's rule),
      // census d2 snapped the same way before summing
      s"""WITH cent0 AS (SELECT vec_id AS cl, embedding AS cvec
         |  FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         |a1 AS (SELECT e.vec_id, e.embedding, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent0 c),
         |asg1 AS (SELECT vec_id, embedding, cl FROM a1
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1),
         |ex AS (SELECT cl, i,
         |  CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS v
         | FROM asg1, generate_series(1, 64) g(i)),
         |cm AS (SELECT cl, i,
         |  CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 1048576.0) AS c
         | FROM ex GROUP BY 1, 2),
         |cent1 AS (SELECT cl, list(c ORDER BY i) AS cvec FROM cm GROUP BY 1),
         |a2 AS (SELECT e.vec_id, c.cl,
         |  ${d2Sql("e.embedding", "c.cvec")} AS d2
         | FROM embeddings e CROSS JOIN cent1 c),
         |asg2 AS (SELECT vec_id, cl, d2 FROM a2
         |  QUALIFY row_number() OVER
         |    (PARTITION BY vec_id ORDER BY d2 ASC, cl ASC) = 1)
         |SELECT cl AS cluster, COUNT(*) AS n,
         | CAST(ROUND(CAST(
         |   CAST(SUM(CAST(ROUND(d2 * 1048576.0) AS BIGINT)) AS DOUBLE)
         |     / (COUNT(*) * 1048576.0) AS DECIMAL(28,10)), 4) AS DOUBLE)
         |   AS avg_d2
         |FROM asg2 GROUP BY 1""".stripMargin,
    "q109_quantize_int8" ->
      // same per-vector scale, same rounding, same d2-form error —
      // the approximation's error surface replayed exactly
      s"""WITH q AS (SELECT vec_id, label,
         |  CAST(embedding AS DOUBLE[]) AS v,
         |  list_max(list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> abs(x))) / 127.0 AS scale
         | FROM embeddings),
         |c AS (SELECT vec_id, label, v, scale,
         |  CASE WHEN scale = 0
         |   THEN list_transform(v, x -> CAST(0 AS BIGINT))
         |   ELSE list_transform(v, x -> CAST(ROUND(x / scale) AS BIGINT))
         |   END AS code
         | FROM q),
         |d AS (SELECT label,
         |  list_transform(code, x -> CAST(x AS DOUBLE) * scale) AS deq,
         |  v, code FROM c),
         |e AS (SELECT label, ${d2Sql("v", "deq")} AS err,
         |  list_max(list_transform(code, x -> abs(x))) AS maxcode FROM d)
         |SELECT label, COUNT(*) AS n, MAX(maxcode) AS max_code,
         | ${graft.core.Exact.sqlDround("MAX(err)", 6)} AS worst_err,
         | ${graft.core.Exact.sqlDround(
             "CAST(SUM(CAST(ROUND(err * 1048576.0) AS BIGINT)) AS DOUBLE)" +
               " / (COUNT(*) * 1048576.0)", 6)} AS mean_err
         |FROM e GROUP BY 1""".stripMargin,
    "q50_ann_grid_cell" ->
      s"""WITH cells AS (SELECT vec_id, embedding, $cellSql AS cell
         |  FROM embeddings),
         |q AS (SELECT embedding AS qemb, cell AS qcell FROM cells
         |  WHERE vec_id = 0)
         |SELECT c.vec_id, c.cell,
         | ROUND(${cosSql("c.embedding", "q.qemb")}, 6) AS cos
         |FROM cells c CROSS JOIN q
         |WHERE c.vec_id != 0 AND bit_count(xor(c.cell, q.qcell)) <= 1
         |ORDER BY ROUND(${cosSql("c.embedding", "q.qemb")}, 6) DESC,
         | c.vec_id ASC LIMIT 10""".stripMargin,
  )
}
