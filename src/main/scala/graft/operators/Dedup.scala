package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.{Aggregator, HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.core.{OracleGen, QueryPack, Tables}

/** Deduplication operators for training-data pipelines (builder-prompt
  * first-class requirement): exact hash dedup, MinHash+LSH banding,
  * SimHash, and rare-n-gram Jaccard — all over `documents`, all with
  * DuckDB oracles (hash functions are md5-derived so both engines
  * compute identical values).
  *
  * Scale design: every stage keys its shuffle on a hash (md5 group,
  * LSH band bucket, rare gram), so work distributes evenly; candidate
  * pairs are generated from bucket joins, never an all-pairs cross
  * join. The only quadratic step is per-bucket, and LSH band width
  * bounds bucket size on real corpora.
  */
object Dedup extends QueryPack {

  /** Distinct (doc_id, token). */
  private def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))

  // --- q25: exact dedup by content hash (A-grade baseline) ---------------
  def q25Exact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .groupBy(($"n_copies" > 1).as("is_dup_group"))
      .agg(count(lit(1)).as("n_groups"), sum($"n_copies").as("n_docs"))
  }

  // --- q189: dedup-savings census (capacity planning) -------------------------
  /** The number a curation budget meeting actually asks for: how much
    * does exact dedup SAVE, by duplicate-group size band — groups,
    * docs, removable docs (all but the keeper) and removable TOKENS
    * per band ('1' unique through '9+' heavy clones). Heavy-clone
    * bands dominating the removable mass means boilerplate/mirror
    * content (fix the crawler); mass in band '2' means organic
    * near-misses (tune the near-dup thresholds instead). q25 counts
    * the groups; this row prices them.
    *
    * Exactness: md5 groups (q25's rule), integer token counts;
    * identical texts have identical counts so removable tokens =
    * Σ tok − min tok per group, exactly.
    *
    * Scale shape: one corpus scan → fingerprint rollup (map-side
    * combined) → a ≤5-row band rollup; nothing after the first
    * aggregation is data-sized.
    */
  def q189DedupSavings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(md5($"text").as("fp"),
        size(split($"text", " ")).cast("long").as("tok"))
      .groupBy($"fp")
      .agg(count(lit(1)).as("n"), sum($"tok").as("sum_tok"),
        min($"tok").as("min_tok"))
      .select(
        when($"n" === 1, "1").when($"n" === 2, "2")
          .when($"n" <= 4, "3-4").when($"n" <= 8, "5-8")
          .otherwise("9+").as("band"),
        $"n", $"sum_tok", $"min_tok")
      .groupBy($"band")
      .agg(count(lit(1)).as("n_groups"),
        sum($"n").as("n_docs"),
        sum($"n" - 1).as("n_dup_docs"),
        sum($"sum_tok" - $"min_tok").as("dup_tokens"))
      .orderBy($"band".asc)
  }

  /** MinHash signature column i: min over tokens of md5(i || '#' || tok).
    * md5 on identical strings is identical across engines, so signatures
    * (and the DuckDB oracle) match exactly.
    */
  private val K = 6 // 3 bands x 2 rows

  /** Link families of [[nearDupLinks]], as bit flags. */
  private val MinHashFam = 1
  private val SimHashFam = 2

  // --- q26/q27/q51/q62: one near-dup signature pass -----------------------
  /** Verified near-dup links (i < j) for the requested families, from
    * ONE signature pass over the distinct (doc_id, tok) rows — the
    * shared body of q26 (MinHash pairs), q27 (SimHash pairs), q51 and
    * q62 (their union, clustered). Columns: i, j, rawjac (pairs a
    * MinHash band proposed, else null), hamming (pairs a SimHash band
    * proposed, else null).
    *
    * Stages:
    *   1. signatures: one groupBy(doc_id) computes the K MinHash mins,
    *      the 48 SimHash bit sums (bit b = sign of Σ±1 over token-hash
    *      bit b; map-side partial aggregation compacts each partition
    *      to one row per doc before the exchange) and, only when a
    *      Jaccard-verified family is requested, the doc's token set;
    *   2. bands: one table holds every requested family — MinHash
    *      bands are md5(m2k‖m2k+1), SimHash bands the four 12-bit
    *      slices (pigeonhole: any pair within hamming 3 agrees on ≥ 1
    *      slice, so banding loses no SimHash candidate);
    *   3. star candidates: each doc pairs only with its bucket's
    *      min-id REPRESENTATIVE, not with every bucket member — O(N)
    *      candidates instead of O(cluster²) (all-pairs banding yields
    *      8.5M candidate pairs at sf0.1; the star shape ≤ 7N, with the
    *      same keep/dup cluster links). One aggregation per pair keeps
    *      the families that proposed it, so each pair's payload travels
    *      once even when both families propose it;
    *   4. verification: one join pair attaches both docs' payloads;
    *      MinHash pairs keep the RAW ratio inter/(si+sj−inter) ≥ 0.7
    *      (identical IEEE division in both engines; rounding happens
    *      for display only, filtering on the rounded value would
    *      disagree with the oracle on boundary values), SimHash pairs
    *      keep bit_count(sa^sb) ≤ 3.
    *
    * The signature frame is lazily checkpointed: four subtrees read it
    * (both band branches, both verification sides), and column pruning
    * would otherwise give each reference its own aggregate — four
    * corpus scans instead of one. SimHash-only calls build no token
    * sets.
    */
  private def nearDupLinks(s: SparkSession, dir: String,
      minhash: Boolean, simhash: Boolean): DataFrame = {
    import s.implicits._
    val dt = docTokens(Tables.documents(s, dir))
    val mhAggs = if (!minhash) Nil else
      (0 until K).map(i => min(md5(concat(lit(s"$i#"), $"tok"))).as(s"m$i")) :+
        collect_list($"tok").as("toks")
    val shAggs = if (!simhash) Nil else (0 until 48).map(b =>
      sum(when(expr(s"(shiftright(hv, $b) & 1) = 1"), 1)
        .otherwise(-1)).as(s"s$b"))
    val aggs = mhAggs ++ shAggs
    // hv: codegen'd digest-byte prefix — same value as
    // conv(substring(md5(tok), 1, 15), 16, 10), minus the hex render
    val sigs0 = (if (simhash)
        dt.withColumn("hv", graft.functions.geo.md5_prefix60($"tok"))
      else dt).groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
    val sigs1 = if (!simhash) sigs0 else sigs0.select($"*",
      (0 until 48).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
        .reduce(_ + _).as("sh"))
    val bandKeys =
      (if (!minhash) Nil else (0 until K / 2).map(b => struct(
        lit(MinHashFam).as("f"), lit(b).as("b"),
        md5(concat(col(s"m${2 * b}"), col(s"m${2 * b + 1}"))).as("bk")))) ++
      (if (!simhash) Nil else (0 until 4).map(b => struct(
        lit(SimHashFam).as("f"), lit(b).as("b"),
        shiftright($"sh", 12 * b).bitwiseAND(4095).cast("string").as("bk"))))
    val payload = (if (minhash) Seq($"toks") else Nil) ++
      (if (simhash) Seq($"sh") else Nil)
    val sigs = sigs1
      .select(($"doc_id" +: payload :+ array(bandKeys: _*).as("bands")): _*)
      .localCheckpoint(false)

    val bands = sigs.select($"doc_id", explode($"bands").as("band"))
      .select($"doc_id", $"band.f", $"band.b", $"band.bk")
    val reps = bands.groupBy($"f", $"b", $"bk").agg(min($"doc_id").as("i"))
    val cand = bands.join(reps, Seq("f", "b", "bk"))
      .filter($"doc_id" > $"i")
      .groupBy($"i", $"doc_id".as("j")).agg(bit_or($"f").as("fams"))

    val pay = sigs.drop("bands")
    def side(id: String, sfx: String) = pay.toDF(pay.columns.toIndexedSeq
      .map(c => if (c == "doc_id") id else c + sfx): _*)
    val inter = size(array_intersect($"toks_a", $"toks_b"))
    val rawjac = when($"fams".bitwiseAND(MinHashFam) =!= 0,
      inter / (size($"toks_a") + size($"toks_b") - inter))
    val hamming = when($"fams".bitwiseAND(SimHashFam) =!= 0,
      bit_count($"sh_a".bitwiseXOR($"sh_b")))
    cand.join(side("i", "_a"), "i").join(side("j", "_b"), "j")
      .select($"i", $"j",
        (if (minhash) rawjac else lit(null).cast("double")).as("rawjac"),
        (if (simhash) hamming else lit(null).cast("int")).as("hamming"))
      .filter($"rawjac" >= 0.7 || $"hamming" <= 3)
  }

  // --- q26: MinHash + LSH banding near-dup pairs --------------------------
  def q26MinHashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    nearDupLinks(s, dir, minhash = true, simhash = false)
      .select($"i", $"j", graft.core.Exact.dround($"rawjac", 4).as("jaccard"))
  }

  // --- q51: near-dup links -> connected-component cluster assignment ------
  /** The step pair links alone don't give a pipeline: WHICH doc to keep.
    * Components of the undirected link graph get cluster_id = the
    * component's min doc_id; is_keep marks the canonical survivor.
    *
    * Algorithm: iterative min-label propagation with pointer jumping
    * ([[connectedComponents]]): each round every node takes the min
    * label among itself and its neighbours (hop), then the label of its
    * label (jump), so rounds are O(log diameter). LSH dedup graphs are
    * unions of band-bucket STARS (every member links to the bucket's
    * min-id representative), so the diameter stays small — observed
    * convergence here is 2 rounds. The published alternative for
    * adversarial graphs — alternating large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14)
    * — is implemented as [[connectedComponentsStars]] and was MEASURED
    * against this loop (round 8): byte-identical labels, but one round
    * MORE at every scale (chain-64 6 vs 7, chain-512 9 vs 10,
    * chain-4096 12 vs 13, LSH links 2 vs 3) and no wall-clock win. The
    * jump loop stays the default on data; stars stays library surface
    * for edge-rewriting composition and the spec cross-check.
    *
    * The driver-side loop is the iterative-algorithm exception to the
    * no-driver-actions rule: each round's count is a convergence test
    * (exactly how GraphX/Pregel terminates), not a data movement —
    * per-node state never leaves the cluster.
    */
  def q51DedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val clusters = connectedComponents(
      nearDupLinks(s, dir, minhash = true, simhash = false).select($"i", $"j"))
      .select($"node".as("doc_id"), $"lab".as("cluster_id"))
    // publish for downstream consumers (q74): the CC loop already ends
    // in a checkpointed label RDD, so the frame is materialized data —
    // reuse costs a block scan, not a MinHash+CC re-run. q51 itself
    // always recomputes (and overwrites the memo), so its bench time
    // stays an honest measurement of the full pipeline.
    clusterMemo.put((s, dir), clusters)
    clusters.select($"doc_id", $"cluster_id",
      ($"doc_id" === $"cluster_id").as("is_keep"))
  }

  /** Session-memoized MinHash→CC cluster assignment, keyed per
    * (session, sf dir): q51 produces (always fresh, see above), q74 and
    * any other decision-stage consumer reuses the materialized
    * checkpoint instead of re-running MinHash + CC rounds.
    * Computed on demand when no producer ran first, so every consumer
    * is standalone-correct, and deterministic either way (CC labels
    * are min-ids — byte-identical however many times they compute).
    */
  private val clusterMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]

  // registered, not hard-wired: Bench's block sweep drains EVERY memo
  // of truncated-lineage frames through the registry, so a future memo
  // elsewhere can't silently break under bench scoping (r15 advice)
  graft.core.MemoRegistry.register("dedup.sharedClusters")(
    () => evictSharedClusters())

  /** Drop every memoized cluster frame. Bench scoping calls this
    * before it sweeps leaked checkpoint blocks out of the block
    * manager ([[graft.Bench.runScoped]]): a memoized frame whose
    * blocks were swept is UNRECOVERABLE (localCheckpoint truncates
    * lineage — the next consumer dies with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), so under bench scoping the
    * memo must empty in the same breath and every query prices as
    * standalone — which is also the honest per-query timing.
    */
  private[graft] def evictSharedClusters(): Unit = clusterMemo.clear()

  private[graft] def sharedClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // evict entries pinned to stopped sessions so a long-lived JVM
    // cycling SparkSessions (test suites, notebook restarts) doesn't
    // accumulate unreclaimable plans; staleness-under-rewritten-dir
    // follows Tables.memo's existing contract (an sf dir is immutable
    // for a session's lifetime)
    clusterMemo.filterInPlace { case ((sess, _), _) =>
      !sess.sparkContext.isStopped }
    clusterMemo.getOrElseUpdate((s, dir),
      connectedComponents(nearDupLinks(s, dir, minhash = true,
          simhash = false).select($"i", $"j"))
        .select($"node".as("doc_id"), $"lab".as("cluster_id")))
  }

  /** Connected components of an undirected graph given as (i, j) link
    * rows (each pair once, either orientation, duplicates harmless):
    * returns (node, lab) where lab = the component's min node id.
    * Library surface — q51 applies it to MinHash links, q62 to the
    * MinHash ∪ SimHash links; any link source composes the same way.
    *
    * The loop runs on co-partitioned RDDs, ONE Spark job per round
    * (plus the checkpoint write under `checkpointDir`):
    * labels and the symmetric edge list are hash-partitioned alike
    * (`spark.sql.shuffle.partitions` ways) and kept key-sorted within
    * each partition, so every join in a round is a streaming merge of
    * matching partitions — no Catalyst plan per round, no join
    * exchange of the edge list, and no per-key buffering on either
    * side. A round:
    *   - hop: each edge (j → i) carries lab(j) to i, and a map-side
    *     combined min (the round's first shuffle) yields every node's
    *     neighbour-min; merged with the labels, lab1 = min(lab, nbr);
    *   - jump: every node x asks its label's node for ITS lab1 —
    *     lab(lab(x)) — so chains collapse exponentially. The requests
    *     shuffle to the asked node's partition, sorted, and stream past
    *     the hop rows there; a star's 100k leaves asking one centre are
    *     a sorted run, never a buffer. The answers shuffle back home
    *     sorted, which is the next round's label RDD;
    *   - the round's count of labels that dropped both materializes
    *     the new labels and decides convergence.
    * Each round's labels are truncated (localCheckpoint, or persist +
    * reliable checkpoint under `checkpointDir` — the executor-loss-safe
    * spelling a preemptible run needs, see [[graft.core.Ckpt]]); the
    * previous round's labels and hop rows are unpersisted once the new
    * count has materialized, so live blocks stay bounded independent
    * of the round count. Labels are identical either way (spec-pinned).
    *
    * Measured on a 4-core host against the DataFrame loop this
    * replaced (min of 3 warm in-JVM runs, labels collected): q62's
    * 619-link graph at 400 documents went from 21 jobs / 1.16 s to 3
    * jobs / 0.57 s, the 512-chain from 84 jobs / 3.10 s to 10 jobs /
    * 1.20 s — identical labels and rounds (2 and 9).
    */
  def connectedComponents(links: DataFrame, maxRounds: Int = 48,
      checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsWithRounds(links, maxRounds, checkpointDir)._1

  /** [[connectedComponents]] plus the round count it converged in —
    * the convergence specs assert the logarithmic bound through this
    * (a return value, not shared mutable state: suites run in
    * parallel in one JVM, so a "last rounds" field would race).
    */
  private[graft] def connectedComponentsWithRounds(
      links: DataFrame, maxRounds: Int = 48,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val s = links.sparkSession
    import s.implicits._
    graft.core.Ckpt.init(links, checkpointDir)
    val part = new HashPartitioner(s.sessionState.conf.numShufflePartitions)
    // symmetric edge list keyed by SOURCE, sorted within partitions;
    // read by every round, so persisted for the loop's lifetime
    val edges = links.toDF("i", "j")
      .select($"i".cast("long"), $"j".cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (i, j) => Iterator((i, j), (j, i)) }
      .repartitionAndSortWithinPartitions(part)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // init = hop 1 fused into node-set construction: every node is an
    // edge source, so one streaming pass over each sorted partition
    // yields min(self, neighbours) — one full loop round saved
    // (labels carry (lab, old); old only matters after a round)
    var labels: RDD[(Long, (Long, Long))] = edges.mapPartitions(
      runMins(_).map { case (n, m) => val l = math.min(n, m); (n, (l, l)) },
      preservesPartitioning = true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val nbrMin = sortedShuffle(edges.zipPartitions(labels)((e, l) =>
          mergeLookup(e, l).collect { case (_, i, Some((lab, _))) =>
            (i, lab) }), part, Some(math.min(_: Long, _: Long)))
      // (x, (old, lab1)) — read by the jump's both sides, so persisted
      // for the round instead of re-merged per reader
      val hop = labels.zipPartitions(nbrMin)((l, n) =>
          mergeLookup(l, n).map { case (x, (lab, _), nl) =>
            (x, (lab, math.min(lab, nl.getOrElse(lab)))) })
        .persist(StorageLevel.MEMORY_AND_DISK)
      val asks = sortedShuffle[(Long, Long)](
        hop.map { case (x, (old, l1)) => (l1, (x, old)) }, part)
      val next = sortedShuffle[(Long, Long)](
        asks.zipPartitions(hop)((a, h) =>
          mergeLookup(a, h).map { case (l1, (x, old), ll) =>
            (x, (math.min(l1, ll.fold(l1)(_._2)), old)) }), part)
      graft.core.Ckpt.truncate(next, checkpointDir)
      // one full-scan count: materializes (and checkpoints) every
      // partition of `next` AND answers "did any label drop"
      converged = next.filter { case (_, (lab, old)) => lab < old }
        .count() == 0
      hop.unpersist(blocking = false)
      labels.unpersist(blocking = false)
      labels = next
      rounds += 1
    }
    if (sys.env.contains("SPARK_GRAFT_DEBUG"))
      Console.err.println(s"[cc] converged after $rounds rounds")
    edges.unpersist(blocking = false)
    (s.createDataFrame(labels.map { case (n, (lab, _)) => Row(n, lab) },
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("lab", LongType, nullable = false)))), rounds)
  }

  /** Key-sorted shuffle to `part`, combining values map-side with
    * `reduce` when given: the reduce side merges and sorts through
    * Spark's spillable shuffle reader, so a heavy key streams. */
  private def sortedShuffle[V: ClassTag](rdd: RDD[(Long, V)],
      part: Partitioner, reduce: Option[(V, V) => V] = None)
      : RDD[(Long, V)] = {
    val sh = new ShuffledRDD[Long, V, V](rdd, part)
      .setKeyOrdering(implicitly[Ordering[Long]])
    reduce.fold(sh)(f =>
      sh.setAggregator(new Aggregator[Long, V, V](identity, f, f))
        .setMapSideCombine(true))
  }

  /** Per-key min over a key-sorted iterator, one run at a time. */
  private def runMins(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val b = it.buffered
    new Iterator[(Long, Long)] {
      def hasNext: Boolean = b.hasNext
      def next(): (Long, Long) = {
        val (k, v0) = b.next()
        var m = v0
        while (b.hasNext && b.head._1 == k) m = math.min(m, b.next()._2)
        (k, m)
      }
    }
  }

  /** Streams `many` (key-sorted, any rows per key) past `one`
    * (key-sorted, at most one row per key): each `many` row meets its
    * key's `one` value, if any — a left merge join that buffers
    * neither side. */
  private def mergeLookup[V, W](many: Iterator[(Long, V)],
      one: Iterator[(Long, W)]): Iterator[(Long, V, Option[W])] = {
    val o = one.buffered
    many.map { case (k, v) =>
      while (o.hasNext && o.head._1 < k) o.next()
      (k, v, if (o.hasNext && o.head._1 == k) Some(o.head._2) else None)
    }
  }

  /** Connected components via ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the published
    * round-bound fix the min-label loop's scaladoc cites. Same
    * contract as [[connectedComponents]]: (node, lab = component min)
    * for every node incident to at least one link.
    *
    * Each round rewrites the EDGE set instead of a label table:
    *   large-star: every node u computes m = min(N(u) ∪ u) and points
    *     each STRICTLY LARGER neighbor at m — long chains collapse
    *     from both ends at once;
    *   small-star: edges oriented (larger → smaller), u points its
    *     smaller neighbors (and itself) at m — flattening what
    *     large-star left.
    * The set converges to a forest of stars rooted at component
    * minima in O(log n) alternations; labels then read off the star
    * edges with one aggregation.
    *
    * Measured vs the jump loop (round 8, this sandbox): labels
    * byte-identical everywhere; rounds 7/10/13 on chains of
    * 64/512/4096 (jump: 6/9/12) and 3 on the sf0.01 LSH link graph
    * (jump: 2); wall time equal-to-worse. The jump loop therefore
    * remains [[q51DedupClusters]]'s default — this form exists as the
    * edge-rewriting alternative (useful where a label table is the
    * wrong intermediate, e.g. when the edge stream is being rewritten
    * anyway) and as the cross-check its spec runs against the jump
    * loop on random graphs.
    *
    * Skew/scale shape: NO per-node neighbor buffering anywhere — m(u)
    * is a partial-aggregatable min, re-attached by an equi-join on u
    * (AQE handles high-degree skew), and every intermediate is
    * `distinct`-bounded by the edge count. Each round ends in an eager
    * localCheckpoint: the round reads its input three times (two star
    * groupings + convergence compare), so without lineage truncation
    * the plan doubles per round, exactly the q51 loop's rule (on a
    * cluster, checkpoint(dir) is the executor-loss-safe spelling).
    * Convergence = edge-set fixpoint: |next| == |cur| and
    * next \ cur = ∅ (both sides are distinct, canonically oriented
    * (larger, smaller) — set equality, no orientation ambiguity).
    */
  def connectedComponentsStars(links: DataFrame, maxRounds: Int = 48,
      checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsStarsWithRounds(links, maxRounds, checkpointDir)._1

  private[graft] def connectedComponentsStarsWithRounds(
      links: DataFrame, maxRounds: Int = 48,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val s = links.sparkSession
    import s.implicits._
    graft.core.Ckpt.init(links, checkpointDir)

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select($"j".as("i"), $"i".as("j")))
      val m = sym.groupBy($"i").agg(min($"j").as("mj"))
        .select($"i".as("u"), least($"i", $"mj").as("m"))
      sym.join(m, sym("i") === m("u"))
        .filter($"j" > $"i")
        .select($"j".as("i"), $"m".as("j"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest($"i", $"j").as("i"), least($"i", $"j").as("j"))
      val m = dir.groupBy($"i").agg(min($"j").as("mj"))
        .select($"i".as("u"), $"mj".as("m")) // all j < i, so min(N ∪ u) = mj
      dir.join(m, dir("i") === m("u"))
        .select(explode(array(
          struct($"j".as("a"), $"m".as("b")),   // smaller neighbor → m
          struct($"i".as("a"), $"m".as("b")))). // u itself → m
          as("p"))
        .filter($"p.a" =!= $"p.b") // drops the (m, m) self-row
        .select($"p.a".as("i"), $"p.b".as("j"))
        .distinct()
    }

    // node universe BEFORE the self-loop drop: a node whose only link
    // is (n, n) has no star edge at convergence but still owes a
    // (n, n) label row under the contract — the final left-join
    // restores exactly those
    val allNodes = graft.core.Ckpt.truncate(links.toDF("i", "j")
      .select(explode(array($"i", $"j")).as("node")).distinct(),
      eager = true, checkpointDir)
    var cur = graft.core.Ckpt.truncate(links.toDF("i", "j")
      .filter($"i" =!= $"j")
      .select(greatest($"i", $"j").as("i"), least($"i", $"j").as("j"))
      .distinct(),
      eager = true, checkpointDir)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val next = graft.core.Ckpt.truncate(smallStar(largeStar(cur)),
        eager = true, checkpointDir)
      // fixpoint test on materialized data: sizes match AND next ⊆ cur
      // (both distinct) ⇒ sets equal
      converged = next.count() == cur.count() && next.except(cur).isEmpty
      cur = next
      rounds += 1
    }
    if (sys.env.contains("SPARK_GRAFT_DEBUG"))
      Console.err.println(s"[cc-stars] converged after $rounds rounds")
    // converged stars: children point at their root (= component min);
    // roots appear only on the j side, so the symmetric min read-off
    // labels both in one aggregation — then the left-join restores
    // self-loop-only nodes (no star edge) as their own label
    val sym = cur.unionByName(cur.select($"j".as("i"), $"i".as("j")))
    val starLabels = sym.groupBy($"i").agg(min($"j").as("mj"))
      .select($"i".as("node"), least($"i", $"mj").as("lab"))
    (allNodes.join(starLabels, Seq("node"), "left")
      .select($"node", coalesce($"lab", $"node").as("lab")), rounds)
  }

  // --- q73: repeated-passage detection (cross-document passage dedup) -----
  /** C4/RefinedWeb-style passage dedup: tile every document into
    * non-overlapping [[PassageWin]]-token windows and surface passages
    * recurring in >= 2 DISTINCT documents — boilerplate headers,
    * license blocks, templated spam that document-level dedup
    * (q25/q26) misses because the surrounding text differs.
    *
    * Scale shape: tiling is a narrow in-row transform (zero exchanges,
    * ~n_tokens/win rows per doc); recurrence counting is a TWO-LEVEL
    * aggregation — (passage, doc_id) first, so within-doc repeats
    * collapse in the map-side partial before the passage-level rollup —
    * and both shuffles key on the passage (evenly hash-distributed).
    * At 100 TB the group key becomes a 128-bit passage digest with
    * min(passage) carried as the exemplar: same plan, narrower key.
    */
  private[graft] val PassageWin = 8

  def q73PassageDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = PassageWin
    Tables.documents(s, dir)
      .withColumn("toks", split($"text", " "))
      .select($"doc_id", explode(expr(
        s"""CASE WHEN size(toks) >= $w
           | THEN transform(sequence(1, size(toks) - $w + 1, $w),
           |   st -> array_join(slice(toks, st, $w), ' '))
           | ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
        .as("passage"))
      .groupBy($"passage", $"doc_id").agg(count(lit(1)).as("n"))
      .groupBy($"passage")
      .agg(count(lit(1)).as("n_docs"), sum($"n").as("n_occurrences"),
        min($"doc_id").as("first_doc_id"))
      .filter($"n_docs" >= 2)
  }

  // --- q98: intra-document repeated-tile removal ---------------------------
  /** WITHIN-document exact substring dedup (the in-doc counterpart of
    * q73's cross-doc passage detection; the family is Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * their suffix-array global pass; tiles are the bounded-memory
    * approximation used corpus-side): tile each document into
    * non-overlapping `w`-token windows and DROP every tile whose exact
    * text already appeared at an earlier tile of the SAME document —
    * templated boilerplate, chorus-style repetition, copy-paste spam.
    * Emits the cleaned text's census (tile counts + md5 of the
    * reassembled text, tail partial tile always kept).
    *
    * Scale shape: entirely IN-ROW — tiling, first-occurrence test
    * (array_position = first index), reassembly, and hash run inside
    * one projection; ZERO exchanges at any corpus size. CPU bound:
    * the first-occurrence test calls array_position once per tile, so
    * the projection is O(tiles²) per document — bounded today by
    * OracleGen.MaxDocSeries = 4096 chars (≤ 2048 tiles at w=2, ~4M
    * comparisons worst case). If doc length bounds ever grow past
    * ~64k tokens, switch the tile filter to a single-pass seen-set
    * (mapPartitions with a scala.collection.mutable.HashSet per doc)
    * before this becomes the hot loop. The q98 query
    * uses w=2 so the removal branch is live on the synthetic corpus at
    * every SF (30-token vocab ⇒ repeated pairs are common; repeated
    * 8-grams are vanishingly rare in random text — the w=8 default
    * matches q73's passage convention for real corpora).
    */
  def intraDocDedup(docs: DataFrame, w: Int = PassageWin): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("toks", split($"text", " "))
      .withColumn("tls", expr(
        s"""CASE WHEN size(toks) >= $w
           | THEN transform(sequence(1, size(toks) - $w + 1, $w),
           |   st -> array_join(slice(toks, st, $w), ' '))
           | ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
      .withColumn("keptTls", expr(
        // first-occurrence rule: tile ordinal k survives iff the
        // FIRST index of its text among the doc's tiles is k itself.
        // Size guard: Spark's sequence(1, 0) DESCENDS ([1, 0]), so an
        // empty tile list must short-circuit before element_at
        s"""CASE WHEN size(tls) = 0 THEN tls ELSE transform(
           |  filter(sequence(1, size(tls)),
           |    k -> array_position(tls, element_at(tls, k)) = k),
           |  k -> element_at(tls, k)) END""".stripMargin))
      .withColumn("clean", expr(
        // kept tiles ++ the tail partial tile (always kept); nullif
        // keeps concat_ws from appending a trailing space on docs
        // whose length is an exact tile multiple
        s"""CASE WHEN size(toks) < $w THEN text
           | ELSE concat_ws(' ', array_join(keptTls, ' '),
           |   nullif(array_join(
           |     slice(toks, (size(toks) div $w) * $w + 1,
           |       size(toks) - (size(toks) div $w) * $w), ' '), ''))
           | END""".stripMargin))
      .select($"doc_id",
        size($"tls").cast("long").as("n_tiles"),
        (size($"tls") - size($"keptTls")).cast("long").as("n_removed"),
        md5($"clean").as("clean_md5"))
  }

  def q98IntraDocDedup(s: SparkSession, dir: String): DataFrame =
    intraDocDedup(Tables.documents(s, dir), w = 2)

  // --- q74: canonical-document selection per near-dup cluster --------------
  /** The dedup DECISION stage: q51 labels clusters, this picks which
    * copy to KEEP — the member with the highest quality score (q22's
    * length + stopword-density heuristic), ties to the smallest
    * doc_id. One row per near-dup cluster.
    *
    * Scale shape: one shuffle joins labels to quality on doc_id, then
    * ONE aggregation — the argmax rides max(struct(quality, -doc_id))
    * struct ordering, so there is no per-cluster sort, no window, and
    * no max-then-equality-join second pass (that spelling reads the
    * cluster frame twice and shuffles three times). The cluster labels
    * come from [[sharedClusters]]: when q51 already ran in this
    * session, q74 is JUST the quality join over the materialized
    * checkpoint, not a second MinHash+CC run. Under Bench scoping the
    * memo is evicted between queries (see [[evictSharedClusters]]),
    * so q74's BENCH time prices the full standalone recompute — the
    * anchor was re-based accordingly in round 15.
    */
  def q74ClusterCanonical(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val quality = TextAnalysis
      .corpusFilterCols(Tables.documents(s, dir))
      .select($"doc_id", $"quality")
    canonicalPerCluster(sharedClusters(s, dir).join(quality, "doc_id"))
  }

  /** Argmax-by-quality over (cluster_id, doc_id, quality) rows —
    * library surface: any cluster assignment (q51 MinHash, q62
    * multi-signal, exact-hash groups) composes with any per-doc score.
    * Ties break to the smallest doc_id via the negated-id struct field.
    */
  def canonicalPerCluster(cq: DataFrame): DataFrame = {
    val s = cq.sparkSession
    import s.implicits._
    cq.groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        max(struct($"quality", (-$"doc_id").as("negid"))).as("best"))
      .select($"cluster_id", (-$"best.negid").as("canonical_doc_id"),
        $"n_docs", $"best.quality".as("quality"))
  }

  // --- q27: SimHash near-dup links via pigeonhole banding -----------------
  /** 48-bit SimHash from md5-derived 60-bit token hashes. Near-dup
    * LINKS (doc ↔ band-bucket representative, verified hamming <= 3).
    * Candidates come from 4 bands of 12 bits: any pair within hamming
    * 3 agrees exactly on >= 1 band (pigeonhole), so banding loses no
    * candidate — and the star shape keeps candidates O(N) where an
    * all-pairs hamming join is O(N²) (the naive form compares 12.5M
    * pairs at just 5k docs). The SimHash-only [[nearDupLinks]] pass.
    */
  def q27SimHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    nearDupLinks(s, dir, minhash = false, simhash = true)
      .select($"i", $"j", $"hamming")
  }

  // --- q28: rare character-8-gram candidate pairs + Jaccard ---------------
  def q28NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // per-doc gram dedup happens LOCALLY (inside the one-pass
    // gram_hashes expression, before the explode) — a global
    // .distinct() here would shuffle the full ~560·N gram stream for
    // nothing. Grams shuffle as 8-byte xxhash64 values, not 8-char
    // strings (internal representation only: the oracle-visible output
    // is (i, j, jaccard); collision odds over millions of grams are
    // ~2^-40).
    val grams = docs
      .select($"doc_id",
        explode(graft.functions.geo.gram_hashes($"text", 8)).as("gram"))
      .cache()
    // rare grams only (global df <= 4) as candidate keys: bounds the
    // per-key join fan-out regardless of corpus size
    val rare = grams.groupBy($"gram").agg(count(lit(1)).as("df"))
      .filter($"df" <= 4 && $"df" >= 2).select($"gram")
    val rg = grams.join(rare, "gram")
    // lazy localCheckpoint (q86's rule): cand now feeds THREE subtrees
    // (both candDocs branches + the intersection join) — uncheckpointed,
    // Catalyst re-runs the whole rare-census + pairing pipeline per
    // reference. The frame is bounded at 3·|rare| pairs.
    val cand = rg.toDF("gram", "i").join(rg.toDF("gram", "j"), "gram")
      .filter($"i" < $"j").select($"i", $"j").distinct()
      .localCheckpoint(false)
    // round-12 rewrite: restrict the gram stream to CANDIDATE DOCS
    // before intersecting. The old spelling joined the FULL gram
    // stream on (doc, gram) — a stage probe at the decades measured
    // that join at 45 s of the query's 32 s gsf10 total (137M rows
    // shuffle-sorted to serve 36 candidate pairs). Candidate docs are
    // ≤ 2·|cand| ≤ 6·|rare| ids (the df≤4 band caps pair fan-out), so
    // they broadcast as a semi-filter — ONE linear pass over the
    // cached stream — and the intersection join runs over
    // candidate-doc grams only (~560·|candDocs| rows, not the corpus).
    // The broadcast hint encodes the dedup-candidate assumption
    // (candidates ≪ corpus); were a corpus to break it, dropping the
    // hint shuffles only candidate-doc grams — still never the full
    // stream. Sizes restricted the same way are exact: Jaccard only
    // reads denominators for candidate docs.
    val candDocs = cand.select($"i".as("doc_id"))
      .union(cand.select($"j".as("doc_id"))).distinct()
    // checkpointed for the same reason: three consumers (sizes, both
    // intersection sides) must not each re-scan the corpus-sized gram
    // stream; the frame is bounded at ~560·|candDocs| rows
    val gcand = grams.join(broadcast(candDocs), "doc_id")
      .localCheckpoint(false)
    val sizes = gcand.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val ga = gcand.toDF("i", "grama"); val gb = gcand.toDF("j2", "gramb")
    val inter = cand.join(ga, "i")
      .join(gb, $"j" === $"j2" && $"grama" === $"gramb")
      .groupBy($"i", $"j").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("i", "si"), "i")
      .join(sizes.toDF("j", "sj"), "j")
      .withColumn("rawjac", $"inter" / ($"si" + $"sj" - $"inter"))
      .filter($"rawjac" >= 0.3)
      .select($"i", $"j", graft.core.Exact.dround($"rawjac", 4).as("jaccard"))
  }

  // --- q49: edit-distance near-dup verification on rare-gram candidates ---
  /** Fuzzy dedup: rare-8-gram candidates verified with exact
    * Levenshtein, keeping pairs whose distance is <= 30% of the longer
    * text (integer predicate `lev*10 <= 3*max(len)`, no float
    * boundary). Candidates bound the O(len²) DP to ~N pairs — never
    * run edit distance all-pairs.
    */
  def q49EditDistance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    // grams shuffle as 8-byte xxhash64 longs, exactly as in q28 — the
    // gram text never reaches the output (only (i, j, lev) does), so
    // the internal representation is free to be the cheap one
    val grams = docs
      .select($"doc_id",
        explode(graft.functions.geo.gram_hashes($"text", 8)).as("gram"))
      .cache()
    val rare = grams.groupBy($"gram").agg(count(lit(1)).as("df"))
      .filter($"df" <= 4 && $"df" >= 2).select($"gram")
    val rg = grams.join(rare, "gram")
    val cand = rg.toDF("gram", "i").join(rg.toDF("gram", "j"), "gram")
      .filter($"i" < $"j").select($"i", $"j").distinct()
    val da = docs.select($"doc_id".as("i"), $"text".as("ta"))
    val db = docs.select($"doc_id".as("j"), $"text".as("tb"))
    cand.join(da, "i").join(db, "j")
      // lev >= |len_a - len_b|: semantics-free prefilter
      .filter(abs(length($"ta") - length($"tb")) * 10 <=
        greatest(length($"ta"), length($"tb")) * 3)
      // thresholded levenshtein runs the banded O(len·k) DP — exact
      // for lev <= k, -1 beyond (and -1 rows fail the filter anyway)
      .withColumn("lev", expr(
        "levenshtein(ta, tb, cast(floor(greatest(length(ta), length(tb)) * 0.3) as int))"))
      .filter($"lev" >= 0 &&
        $"lev" * 10 <= greatest(length($"ta"), length($"tb")) * 3)
      .select($"i", $"j", $"lev")
  }

  // --- q62: multi-signal dedup clusters (MinHash ∪ SimHash links) ----------
  /** Production near-dup clustering rarely trusts one signal:
    * token-set MinHash catches reorderings, SimHash catches small
    * bit-level drifts — their UNION is the link graph. Both families
    * come out of ONE [[nearDupLinks]] pass (one token scan, one
    * signature aggregation, one band table, one candidate and one
    * verification join pair), and [[connectedComponents]] takes the
    * link frame as is: a pair both families verify is one row.
    *
    * Job count is the cost here, not compute (a trivial Spark job costs
    * ~50 ms on a 4-core host). The former shape ran the two families
    * as separate pipelines on a thread pool, each eagerly checkpointed,
    * then a DataFrame CC loop. Measured on a 4-core host at 400
    * documents (min of 3 warm in-JVM runs, noop sink): 45 jobs / 7.9 s
    * before, 8 jobs / 2.8 s now — 5 for the link pass, one per CC round
    * (2), one for the sink.
    */
  def q62MultiLinkClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    connectedComponents(nearDupLinks(s, dir, minhash = true, simhash = true)
        .select($"i", $"j"))
      .select($"node".as("doc_id"), $"lab".as("cluster_id"),
        ($"node" === $"lab").as("is_keep"))
  }

  // --- q61: incremental dedup of a new batch against the corpus -----------
  /** The ingestion-time dedup every production pipeline runs: a NEW
    * batch of documents (here the deterministic md5-bucket >= 80 slice)
    * dedups against the already-ingested corpus (bucket < 80) by
    * content fingerprint, plus intra-batch exact dedup. Survivors =
    * batch docs whose fingerprint is unseen in the corpus AND that are
    * their fingerprint's canonical (min doc_id) within the batch.
    *
    * Scale shape: the corpus side reduces to its DISTINCT fingerprints
    * before the anti-join (at ingestion time that set IS the persisted
    * fingerprint index — fp-bucketed, so the anti-join co-locates);
    * both the anti-join and the intra-batch canonical groupBy key on
    * the fingerprint hash, evenly distributed by construction.
    */
  def q61IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .withColumn("bucket",
        conv(substring(md5($"doc_id".cast("string")), 1, 6), 16, 10)
          .cast("long") % 100)
      .withColumn("fp", md5($"text"))
    val corpusFps = docs.filter($"bucket" < 80).select($"fp").distinct()
    docs.filter($"bucket" >= 80)
      .join(corpusFps, Seq("fp"), "left_anti")
      .groupBy($"fp").agg(min($"doc_id").as("doc_id"),
        count(lit(1)).as("n_batch_copies"))
      .select($"doc_id", $"fp", $"n_batch_copies")
  }

  // --- q113: MinHash estimator-error census --------------------------------
  /** Estimated vs exact Jaccard for every LSH candidate pair — the
    * estimator audit BEHIND q26's 0.7 threshold. The MinHash estimate
    * is the signature agreement fraction (matching components / K,
    * Broder 1997: P[minhash_i(A)=minhash_i(B)] = J(A,B)); the truth is
    * the token-set Jaccard computed only for candidates. At 100 TB the
    * near-dup pipeline tunes its (bands, rows, threshold) choice on
    * exactly this census run over a sample shard — and because both
    * columns are ratios of small integers, the audit of the
    * APPROXIMATION is itself under the exact gate (the q103/q109
    * pattern: measure the estimator's error surface exactly).
    *
    * Scale shape: identical to q26 (star-shaped candidates ≤ 3N from
    * the band buckets, exact Jaccard via the candidate-token join);
    * the signature-agreement join adds two hash joins against the
    * K-column signature frame, cached once. Pairs whose token sets
    * turn out disjoint (possible only via md5 band collisions) keep
    * exact_jac = 0 through the left join rather than vanishing.
    */
  /** The shared LSH-candidate pair-statistics frame behind q113 and
    * q190: (i, j, n_match, inter, si, sj) for every distinct
    * (rep, later-doc) band-bucket candidate — exact token
    * intersection via the candidate-doc prefilter (the q28 r12
    * rewrite: never join the full token stream to serve ≤3N pairs).
    */
  private def minhashPairStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dt = docTokens(Tables.documents(s, dir)).cache()
    val sigCols = (0 until K).map(i =>
      min(md5(concat(lit(s"$i#"), $"tok"))).as(s"m$i"))
    val sigs = dt.groupBy($"doc_id").agg(sigCols.head, sigCols.tail: _*).cache()
    val bands = sigs.select($"doc_id", explode(array(
      struct(lit(0).as("b"), md5(concat($"m0", $"m1")).as("bk")),
      struct(lit(1).as("b"), md5(concat($"m2", $"m3")).as("bk")),
      struct(lit(2).as("b"), md5(concat($"m4", $"m5")).as("bk"))
    )).as("band")).select($"doc_id", $"band.b", $"band.bk")
    val reps = bands.groupBy($"b", $"bk").agg(min($"doc_id").as("i"))
    // cand feeds est + both candDocs branches + inter (the q28 rule)
    val cand = bands.join(reps, Seq("b", "bk"))
      .filter($"doc_id" > $"i")
      .select($"i", $"doc_id".as("j")).distinct()
      .localCheckpoint(false)
    val sa = sigs.toDF(("i" +: (0 until K).map(i => s"a$i")): _*)
    val sb = sigs.toDF(("j" +: (0 until K).map(i => s"b$i")): _*)
    val nMatch = (0 until K)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cand.join(sa, "i").join(sb, "j")
      .select($"i", $"j", nMatch.as("n_match"))
    // candidate-doc token prefilter — the q28 r12
    // rewrite: never join the full token stream to serve ≤3N pairs
    val candDocs = cand.select($"i".as("doc_id"))
      .union(cand.select($"j".as("doc_id"))).distinct()
    val dtc = dt.join(broadcast(candDocs), "doc_id").localCheckpoint(false)
    val sizes = dtc.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val ta = dtc.toDF("i", "tok"); val tb = dtc.toDF("j2", "tokb")
    val inter = cand.join(ta, "i")
      .join(tb, $"j" === $"j2" && $"tok" === $"tokb")
      .groupBy($"i", $"j").agg(count(lit(1)).as("inter"))
    est.join(inter, Seq("i", "j"), "left")
      .withColumn("inter", coalesce($"inter", lit(0L)))
      .join(sizes.toDF("i", "si"), "i")
      .join(sizes.toDF("j", "sj"), "j")
  }

  def q113MinhashErr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    minhashPairStats(s, dir)
      .withColumn("estj", $"n_match" / lit(K.toDouble))
      .withColumn("exj", $"inter" / ($"si" + $"sj" - $"inter"))
      .select($"i", $"j", $"n_match",
        graft.core.Exact.dround($"estj", 4).as("est_jac"),
        graft.core.Exact.dround($"exj", 4).as("exact_jac"),
        graft.core.Exact.dround(abs($"estj" - $"exj"), 4).as("abs_err"))
  }

  // --- q190: near-dup savings threshold sweep ----------------------------------
  /** The lexical half of the threshold-tuning pair (q117 sweeps
    * SemDeDup's τ): for Jaccard thresholds τ ∈ {40, 50, 70, 90}%,
    * how many documents (and tokens) would star-dedup remove — a doc
    * drops at τ if it has ANY candidate link of exact Jaccard ≥ τ to
    * an earlier doc. Read next to q189 (exact-dup savings): together
    * they price the whole dedup ladder, and the marginal mass between
    * thresholds is the data the τ decision is actually about.
    *
    * Exactness: the threshold test is the integer cross-
    * multiplication `100·inter ≥ τ·(si + sj − inter)` — no float at
    * any boundary; counts and token sums are exact integers.
    *
    * Scale shape: ONE candidate-pair frame (the q113 machinery,
    * checkpointed) × a 4-row threshold spine; per-τ dedup of the
    * removable-doc set is a (τ, j) aggregation bounded by
    * 4·|candidates|. Nothing rescans the corpus per threshold.
    */
  def q190NeardupSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pj = minhashPairStats(s, dir)
      .select($"i", $"j", $"inter", $"si", $"sj")
      .localCheckpoint(false) // one pair frame feeds all 4 sweep points
    val taus = s.range(0, 4).select(
      element_at(array(lit(40L), lit(50L), lit(70L), lit(90L)),
        ($"id" + 1).cast("int")).as("tau"))
    val hits = pj.crossJoin(broadcast(taus))
      .filter($"inter" * 100 >= $"tau" * ($"si" + $"sj" - $"inter"))
    val pairCounts = hits.groupBy($"tau").agg(count(lit(1)).as("n_pairs"))
    val docTok = hits.groupBy($"tau", $"j").agg(max($"sj").as("sj"))
      .groupBy($"tau")
      .agg(count(lit(1)).as("n_docs_removable"),
        sum($"sj").as("tokens_removable"))
    taus.join(broadcast(pairCounts), Seq("tau"), "left")
      .join(broadcast(docTok), Seq("tau"), "left")
      .select($"tau",
        coalesce($"n_pairs", lit(0L)).as("n_pairs"),
        coalesce($"n_docs_removable", lit(0L)).as("n_docs_removable"),
        coalesce($"tokens_removable", lit(0L)).as("tokens_removable"))
      .orderBy($"tau".asc)
  }

  // --- q133: content-defined chunking (CDC) census ---------------------------
  /** Content-DEFINED chunk boundaries (the FastCDC/rsync family, at
    * token granularity): a boundary falls after token i whenever the
    * hash of the trailing 4-token window hits 0 mod 8 (mean chunk ≈ 8
    * tokens), plus a forced boundary at doc end. Because a boundary
    * depends only on LOCAL content, chunking is SHIFT-INVARIANT —
    * prepending text to a document leaves every downstream chunk
    * identical, so duplicated passages keep identical chunk hashes
    * wherever they move. Fixed tiling (q73's stride-8) loses ALL
    * alignment on a one-token shift; that contrast is exactly why
    * storage dedup and incremental-crawl near-dup use CDC
    * (DedupSpec pins the retention law for both).
    *
    * Exactness: the window hash is md5 of the space-joined window
    * (replays in SQL); chunk assembly is string mechanics on the
    * token list. Census: per-lang chunk count, mean tokens/chunk
    * (integer ratio, dround), and the duplicate-chunk mass — chunks
    * whose text occurs more than once corpus-wide, CDC's payoff
    * metric (the near-dup doc families share runs long enough to
    * yield identical chunks).
    *
    * Scale shape: boundary flags, chunk splitting, and per-chunk
    * texts are ALL in-row (one projection, O(L) per doc via a marked
    * concat-then-split — no O(L²) position scan); the only shuffles
    * are the chunk-hash aggregation and the per-lang census — both
    * map-side combinable, keyed on md5 values. Linear at any corpus
    * size, no pairing.
    */
  def cdcChunks(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // CHUNK_SEP is a char the corpus cannot contain (tokens come from
    // a space-split); marking each boundary token with it turns chunk
    // extraction into one split. The contract is ENFORCED, not
    // assumed: a document carrying U+0001 would create spurious
    // Spark-side boundaries and silently diverge from the oracle, so
    // it fails LOUDLY instead — a codegen'd per-row `contains`,
    // negligible next to the window hashing (round-11 advice).
    val sep = "\u0001"
    docs
      .withColumn("text", when($"text".contains(sep), raise_error(concat(
          lit("cdcChunks: text contains reserved separator U+0001, "
            + "doc_id="), $"doc_id".cast("string"))))
        .otherwise($"text"))
      .withColumn("toks", filter(split($"text", " "), t => length(t) > 0))
      .filter(size($"toks") > 0)
      .withColumn("marked", concat_ws("",
        expr(s"""transform(sequence(1, size(toks)), i ->
          | CASE WHEN i < size(toks) AND i >= 4 AND
          |   CAST(conv(substring(md5(concat_ws(' ', slice(toks, i - 3, 4))),
          |     1, 4), 16, 10) AS BIGINT) % 8 = 0
          |  THEN concat(toks[i - 1], '$sep')
          |  ELSE concat(toks[i - 1], ' ') END)""".stripMargin)))
      .select($"doc_id", $"lang",
        explode(expr(s"transform(split(marked, '$sep'), c -> trim(c))"))
          .as("chunk"))
      .filter(length($"chunk") > 0)
      .withColumn("chunk_toks", size(split($"chunk", " ")).cast("long"))
      .withColumn("ch", md5($"chunk"))
  }

  /** JVM twin of [[cdcChunks]]'s per-document chunker — ONE boundary
    * definition for the streaming layer (the semDedupStream /
    * gridCellOf pattern): returns (chunk, chunk_toks, ch) per chunk in
    * document order. Bit-parity with the Column spelling is
    * spec-pinned over the corpus (StreamingSpec): same space-split,
    * same trailing-4-token md5 window (first 4 hex chars mod 8), same
    * md5 chunk hash.
    */
  def cdcChunksOf(text: String): Seq[(String, Long, String)] = {
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val toks = text.split(" ").filter(_.nonEmpty)
    if (toks.isEmpty) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
    val cur = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 1
    while (i <= toks.length) {
      cur += toks(i - 1)
      val boundary = i < toks.length && i >= 4 &&
        java.lang.Long.parseLong(
          md5hex(toks.slice(i - 4, i).mkString(" ")).substring(0, 4),
          16) % 8 == 0
      if (boundary) {
        val c = cur.mkString(" ")
        out += ((c, cur.length.toLong, md5hex(c)))
        cur.clear()
      }
      i += 1
    }
    if (cur.nonEmpty) {
      val c = cur.mkString(" ")
      out += ((c, cur.length.toLong, md5hex(c)))
    }
    out.toSeq
  }

  /** Round 11 applied the q118 treatment here: the old spelling
    * aggregated occurrence counts per chunk hash and then JOINED THEM
    * BACK onto the data-sized chunk stream — a second full shuffle of
    * the corpus (the gsf10 decade read 8.9×). The join is gone: the
    * stream shuffles ONCE, keyed (ch, lang) (map-side combinable, same
    * volume as the old occurrence aggregation), the corpus-wide `occ`
    * rolls up over the DISTINCT-chunk frame with the per-lang
    * breakdown riding as a ≤|langs|-entry list, and the final census
    * re-explodes that bounded list — every post-shuffle frame is
    * distinct-chunk-sized or smaller, never instance-sized. Output is
    * hash-identical to the old spelling (same sums, same divisions);
    * PlanSpec asserts the executed plan contains NO join at all.
    */
  def q133CdcChunking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = cdcChunks(Tables.documents(s, dir))
    // one shuffle of the chunk stream: instances per (chunk, lang);
    // a chunk hash pins its text, so chunk_toks is constant per ch
    // (max = that constant, spelled max for determinism's sake)
    val perLang = chunks.groupBy($"ch", $"lang")
      .agg(count(lit(1)).as("n_inst"), max($"chunk_toks").as("ct"))
    // corpus-wide occurrence per chunk, per-lang breakdown carried
    // through as a bounded (≤ #langs) list — no join back to the stream
    val perCh = perLang.groupBy($"ch")
      .agg(sum($"n_inst").as("occ"),
        collect_list(struct($"lang", $"n_inst", $"ct")).as("ls"))
    perCh.select(explode($"ls").as("e"), $"occ")
      .groupBy($"e.lang".as("lang"))
      .agg(sum($"e.n_inst").as("n_chunks"),
        sum($"e.n_inst" * $"e.ct").as("n_tokens"),
        graft.core.Exact.dround(
          sum($"e.n_inst" * $"e.ct").cast("double") / sum($"e.n_inst"), 4)
          .as("avg_chunk_toks"),
        sum(when($"occ" > 1L, $"e.n_inst").otherwise(0L))
          .as("n_dup_chunks"),
        graft.core.Exact.dround(
          sum(when($"occ" > 1L, $"e.n_inst").otherwise(0L)).cast("double")
            / sum($"e.n_inst"), 4).as("dup_rate"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q133_cdc_chunking"   -> (q133CdcChunking _),
    "q113_minhash_err"    -> (q113MinhashErr _),
    "q49_dedup_editdist"  -> (q49EditDistance _),
    "q25_dedup_exact"     -> (q25Exact _),
    "q189_dedup_savings"  -> (q189DedupSavings _),
    "q190_neardup_sweep"  -> (q190NeardupSweep _),
    "q26_dedup_minhash"   -> (q26MinHashLsh _),
    "q27_dedup_simhash"   -> (q27SimHash _),
    "q28_dedup_ngram"     -> (q28NgramJaccard _),
    "q51_dedup_clusters"  -> (q51DedupClusters _),
    "q61_incr_dedup"      -> (q61IncrementalDedup _),
    "q62_multilink_clusters" -> (q62MultiLinkClusters _),
    "q73_passage_dedup"   -> (q73PassageDedup _),
    "q98_intradoc_dedup"  -> (q98IntraDocDedup _),
    "q74_cluster_canonical" -> (q74ClusterCanonical _),
  )

  /** The q26 MinHash link chain + CC label closure as composable SQL
    * fragments: q51 is chain + closure + label select; q74 appends the
    * quality argmax on top of the same text.
    */
  private val MinhashLinksChainSql =
    """dt AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok
      |  FROM documents),
      |sig AS (SELECT doc_id,
      |  MIN(md5('0#'||tok)) m0, MIN(md5('1#'||tok)) m1,
      |  MIN(md5('2#'||tok)) m2, MIN(md5('3#'||tok)) m3,
      |  MIN(md5('4#'||tok)) m4, MIN(md5('5#'||tok)) m5
      | FROM dt GROUP BY doc_id),
      |bands AS (
      | SELECT doc_id, 0 b, md5(m0||m1) bk FROM sig UNION ALL
      | SELECT doc_id, 1 b, md5(m2||m3) bk FROM sig UNION ALL
      | SELECT doc_id, 2 b, md5(m4||m5) bk FROM sig),
      |reps AS (SELECT b, bk, MIN(doc_id) i FROM bands GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT r.i, bd.doc_id j
      | FROM bands bd JOIN reps r USING (b, bk)
      | WHERE bd.doc_id > r.i),
      |ctok AS MATERIALIZED (SELECT c.i, c.j, a.tok
      | FROM cand c JOIN dt a ON a.doc_id = c.i),
      |sizes AS (SELECT doc_id, COUNT(*) sz FROM dt GROUP BY 1),
      |inter AS (SELECT ct.i, ct.j, COUNT(*) inter FROM ctok ct
      |  JOIN dt b2 ON b2.doc_id = ct.j AND b2.tok = ct.tok
      |  GROUP BY ct.i, ct.j),
      |links AS (SELECT it.i, it.j
      | FROM inter it JOIN sizes si ON it.i = si.doc_id
      | JOIN sizes sj ON it.j = sj.doc_id
      | WHERE it.inter / (si.sz + sj.sz - it.inter) >= 0.7)""".stripMargin

  private val CcClosureSql =
    """edges AS (SELECT i, j FROM links UNION ALL SELECT j, i FROM links),
      |rec(node, lab) AS (
      | SELECT DISTINCT i, i FROM edges
      | UNION
      | SELECT e.j, r.lab FROM rec r JOIN edges e ON e.i = r.node)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q133_cdc_chunking" ->
      // same windowed md5 boundary rule; chunk id = boundaries BEFORE
      // the position (one-reducer window per doc, bounded by doc
      // length); chunk text reassembled token-by-token, hashed, and
      // censused identically
      s"""WITH d AS (SELECT doc_id, lang,
         |  list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
         | FROM documents
         | WHERE len(list_filter(string_split(text, ' '), t -> len(t) > 0)) > 0),
         |p AS (SELECT doc_id, lang, i, toks[i] AS tok,
         |  CASE WHEN i < len(toks) AND i >= 4 AND
         |    CAST(('0x' || substr(md5(array_to_string(toks[i-3:i], ' ')),
         |      1, 4)) AS BIGINT) % 8 = 0
         |   THEN 1 ELSE 0 END AS bnd
         | FROM d, generate_series(1, ${OracleGen.MaxDocSeries}) g(i)
         | WHERE i <= len(toks)),
         |c AS (SELECT doc_id, lang, i, tok,
         |  COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
         | FROM p),
         |ch AS (SELECT doc_id, lang, cid,
         |  string_agg(tok, ' ' ORDER BY i) AS chunk,
         |  CAST(COUNT(*) AS BIGINT) AS chunk_toks
         | FROM c GROUP BY 1, 2, 3),
         |dup AS (SELECT md5(chunk) AS h, COUNT(*) AS occ FROM ch GROUP BY 1)
         |SELECT lang, COUNT(*) AS n_chunks,
         | CAST(SUM(chunk_toks) AS BIGINT) AS n_tokens,
         | ${graft.core.Exact.sqlDround(
             "CAST(SUM(chunk_toks) AS DOUBLE) / COUNT(*)", 4)}
         |   AS avg_chunk_toks,
         | CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_dup_chunks,
         | ${graft.core.Exact.sqlDround(
             "CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)" +
               " / COUNT(*)", 4)} AS dup_rate
         |FROM ch JOIN dup ON md5(ch.chunk) = dup.h
         |GROUP BY 1""".stripMargin,
    "q190_neardup_sweep" ->
      // q113's candidate chain + the integer cross-multiplied
      // threshold sweep; removable docs dedupe per (tau, j)
      """WITH dt AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok
        |  FROM documents),
        |sig AS MATERIALIZED (SELECT doc_id,
        |  MIN(md5('0#'||tok)) m0, MIN(md5('1#'||tok)) m1,
        |  MIN(md5('2#'||tok)) m2, MIN(md5('3#'||tok)) m3,
        |  MIN(md5('4#'||tok)) m4, MIN(md5('5#'||tok)) m5
        | FROM dt GROUP BY doc_id),
        |bands AS (
        | SELECT doc_id, 0 b, md5(m0||m1) bk FROM sig UNION ALL
        | SELECT doc_id, 1 b, md5(m2||m3) bk FROM sig UNION ALL
        | SELECT doc_id, 2 b, md5(m4||m5) bk FROM sig),
        |reps AS (SELECT b, bk, MIN(doc_id) i FROM bands GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT r.i, bd.doc_id j
        | FROM bands bd JOIN reps r USING (b, bk)
        | WHERE bd.doc_id > r.i),
        |ctok AS MATERIALIZED (SELECT c.i, c.j, a.tok
        | FROM cand c JOIN dt a ON a.doc_id = c.i),
        |sizes AS (SELECT doc_id, COUNT(*) sz FROM dt GROUP BY 1),
        |inter AS (SELECT ct.i, ct.j, COUNT(*) inter FROM ctok ct
        |  JOIN dt b2 ON b2.doc_id = ct.j AND b2.tok = ct.tok
        |  GROUP BY ct.i, ct.j),
        |pj AS (SELECT c.i, c.j,
        |  CAST(COALESCE(it.inter, 0) AS BIGINT) AS inter,
        |  CAST(si.sz AS BIGINT) AS si, CAST(sj.sz AS BIGINT) AS sj
        | FROM cand c LEFT JOIN inter it ON it.i = c.i AND it.j = c.j
        | JOIN sizes si ON c.i = si.doc_id
        | JOIN sizes sj ON c.j = sj.doc_id),
        |taus AS (SELECT CAST(unnest([40, 50, 70, 90]) AS BIGINT) AS tau),
        |hits AS (SELECT t.tau, p.i, p.j, p.sj
        | FROM pj p CROSS JOIN taus t
        | WHERE p.inter * 100 >= t.tau * (p.si + p.sj - p.inter)),
        |pc AS (SELECT tau, COUNT(*) AS n_pairs FROM hits GROUP BY 1),
        |dk AS (SELECT tau, j, MAX(sj) AS sj FROM hits GROUP BY 1, 2),
        |dc AS (SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_docs_removable,
        |  CAST(SUM(sj) AS BIGINT) AS tokens_removable FROM dk GROUP BY 1)
        |SELECT t.tau, COALESCE(pc.n_pairs, 0) AS n_pairs,
        | COALESCE(dc.n_docs_removable, 0) AS n_docs_removable,
        | COALESCE(dc.tokens_removable, 0) AS tokens_removable
        |FROM taus t LEFT JOIN pc USING (tau) LEFT JOIN dc USING (tau)
        |ORDER BY t.tau ASC""".stripMargin,
    "q113_minhash_err" ->
      // q26's candidate chain, minus the 0.7 filter, plus the
      // signature-agreement estimate: everything is integer ratios
      """WITH dt AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok
        |  FROM documents),
        |sig AS MATERIALIZED (SELECT doc_id,
        |  MIN(md5('0#'||tok)) m0, MIN(md5('1#'||tok)) m1,
        |  MIN(md5('2#'||tok)) m2, MIN(md5('3#'||tok)) m3,
        |  MIN(md5('4#'||tok)) m4, MIN(md5('5#'||tok)) m5
        | FROM dt GROUP BY doc_id),
        |bands AS (
        | SELECT doc_id, 0 b, md5(m0||m1) bk FROM sig UNION ALL
        | SELECT doc_id, 1 b, md5(m2||m3) bk FROM sig UNION ALL
        | SELECT doc_id, 2 b, md5(m4||m5) bk FROM sig),
        |reps AS (SELECT b, bk, MIN(doc_id) i FROM bands GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT r.i, bd.doc_id j
        | FROM bands bd JOIN reps r USING (b, bk)
        | WHERE bd.doc_id > r.i),
        |ctok AS MATERIALIZED (SELECT c.i, c.j, a.tok
        | FROM cand c JOIN dt a ON a.doc_id = c.i),
        |sizes AS (SELECT doc_id, COUNT(*) sz FROM dt GROUP BY 1),
        |inter AS (SELECT ct.i, ct.j, COUNT(*) inter FROM ctok ct
        |  JOIN dt b2 ON b2.doc_id = ct.j AND b2.tok = ct.tok
        |  GROUP BY ct.i, ct.j),
        |m AS (SELECT c.i, c.j,
        |  (CASE WHEN sa.m0 = sb.m0 THEN 1 ELSE 0 END +
        |   CASE WHEN sa.m1 = sb.m1 THEN 1 ELSE 0 END +
        |   CASE WHEN sa.m2 = sb.m2 THEN 1 ELSE 0 END +
        |   CASE WHEN sa.m3 = sb.m3 THEN 1 ELSE 0 END +
        |   CASE WHEN sa.m4 = sb.m4 THEN 1 ELSE 0 END +
        |   CASE WHEN sa.m5 = sb.m5 THEN 1 ELSE 0 END) AS n_match
        | FROM cand c JOIN sig sa ON sa.doc_id = c.i
        | JOIN sig sb ON sb.doc_id = c.j),
        |f AS (SELECT m.i, m.j, m.n_match,
        |  m.n_match / 6.0 AS estj,
        |  COALESCE(it.inter, 0) / (si.sz + sj.sz - COALESCE(it.inter, 0)) AS exj
        | FROM m LEFT JOIN inter it ON it.i = m.i AND it.j = m.j
        | JOIN sizes si ON m.i = si.doc_id
        | JOIN sizes sj ON m.j = sj.doc_id)
        |SELECT i, j, n_match,
        | CAST(ROUND(CAST(estj AS DECIMAL(28,10)), 4) AS DOUBLE) AS est_jac,
        | CAST(ROUND(CAST(exj AS DECIMAL(28,10)), 4) AS DOUBLE) AS exact_jac,
        | CAST(ROUND(CAST(ABS(estj - exj) AS DECIMAL(28,10)), 4) AS DOUBLE) AS abs_err
        |FROM f""".stripMargin,
    "q49_dedup_editdist" ->
      s"""WITH grams AS MATERIALIZED (SELECT DISTINCT doc_id, substr(text, g, 8) AS gram
        |  FROM documents, generate_series(1, ${OracleGen.MaxDocSeries}) t(g)
        |  WHERE g <= length(text) - 7),
        |rare AS (SELECT gram FROM grams GROUP BY gram
        |  HAVING COUNT(*) <= 4 AND COUNT(*) >= 2),
        |rg AS (SELECT g.doc_id, g.gram FROM grams g JOIN rare r USING (gram)),
        |cand AS (SELECT DISTINCT a.doc_id i, b.doc_id j FROM rg a
        |  JOIN rg b ON a.gram = b.gram AND a.doc_id < b.doc_id)
        |SELECT i, j, levenshtein(da.text, db.text) AS lev
        |FROM cand JOIN documents da ON da.doc_id = i
        |JOIN documents db ON db.doc_id = j
        |WHERE ABS(length(da.text) - length(db.text)) * 10 <=
        |  GREATEST(length(da.text), length(db.text)) * 3
        | AND levenshtein(da.text, db.text) * 10 <=
        |  GREATEST(length(da.text), length(db.text)) * 3""".stripMargin,
    "q189_dedup_savings" ->
      // q25's md5 groups priced: identical integer token counts, band
      // labels as identical CASE strings
      """WITH g AS (SELECT md5(text) AS fp, COUNT(*) AS n,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
        |  CAST(MIN(len(string_split(text, ' '))) AS BIGINT) AS min_tok
        | FROM documents GROUP BY 1)
        |SELECT CASE WHEN n = 1 THEN '1' WHEN n = 2 THEN '2'
        |  WHEN n <= 4 THEN '3-4' WHEN n <= 8 THEN '5-8'
        |  ELSE '9+' END AS band,
        | COUNT(*) AS n_groups,
        | CAST(SUM(n) AS BIGINT) AS n_docs,
        | CAST(SUM(n - 1) AS BIGINT) AS n_dup_docs,
        | CAST(SUM(sum_tok - min_tok) AS BIGINT) AS dup_tokens
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q25_dedup_exact" ->
      """WITH g AS (SELECT md5(text) fp, MIN(doc_id) keep_id, COUNT(*) n_copies
        | FROM documents GROUP BY 1)
        |SELECT n_copies > 1 AS is_dup_group, COUNT(*) AS n_groups,
        | CAST(SUM(n_copies) AS BIGINT) AS n_docs
        |FROM g GROUP BY 1""".stripMargin,
    "q26_dedup_minhash" ->
      // MATERIALIZED CTEs force the staged join order: without them
      // DuckDB starts from the token-token self join (114s at sf0.1
      // vs 0.3s staged)
      """WITH dt AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok
        |  FROM documents),
        |sig AS (SELECT doc_id,
        |  MIN(md5('0#'||tok)) m0, MIN(md5('1#'||tok)) m1,
        |  MIN(md5('2#'||tok)) m2, MIN(md5('3#'||tok)) m3,
        |  MIN(md5('4#'||tok)) m4, MIN(md5('5#'||tok)) m5
        | FROM dt GROUP BY doc_id),
        |bands AS (
        | SELECT doc_id, 0 b, md5(m0||m1) bk FROM sig UNION ALL
        | SELECT doc_id, 1 b, md5(m2||m3) bk FROM sig UNION ALL
        | SELECT doc_id, 2 b, md5(m4||m5) bk FROM sig),
        |reps AS (SELECT b, bk, MIN(doc_id) i FROM bands GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT r.i, bd.doc_id j
        | FROM bands bd JOIN reps r USING (b, bk)
        | WHERE bd.doc_id > r.i),
        |ctok AS MATERIALIZED (SELECT c.i, c.j, a.tok
        | FROM cand c JOIN dt a ON a.doc_id = c.i),
        |sizes AS (SELECT doc_id, COUNT(*) sz FROM dt GROUP BY 1),
        |inter AS (SELECT ct.i, ct.j, COUNT(*) inter FROM ctok ct
        |  JOIN dt b2 ON b2.doc_id = ct.j AND b2.tok = ct.tok
        |  GROUP BY ct.i, ct.j)
        |SELECT it.i, it.j,
        | CAST(ROUND(CAST((it.inter / (si.sz + sj.sz - it.inter)) AS DECIMAL(28,10)), 4) AS DOUBLE) AS jaccard
        |FROM inter it JOIN sizes si ON it.i = si.doc_id
        |JOIN sizes sj ON it.j = sj.doc_id
        |WHERE it.inter / (si.sz + sj.sz - it.inter) >= 0.7""".stripMargin,
    "q27_dedup_simhash" ->
      """WITH dt AS MATERIALIZED (SELECT DISTINCT doc_id,
        |  unnest(string_split(text,' ')) AS tok FROM documents),
        |hv AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM dt),
        |bits AS (SELECT doc_id, b,
        |  SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) sw
        | FROM hv, generate_series(0, 47) t(b) GROUP BY doc_id, b),
        |sims AS MATERIALIZED (SELECT doc_id,
        |  SUM(CASE WHEN sw > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
        |    AS simhash
        | FROM bits GROUP BY doc_id),
        |bands AS (SELECT doc_id, simhash, b AS band,
        |  (simhash >> (12 * b)) & 4095 AS key
        | FROM sims, generate_series(0, 3) t(b)),
        |reps AS (SELECT band, key, MIN(doc_id) i FROM bands GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT r.i, bd.doc_id j, bd.simhash sb
        | FROM bands bd JOIN reps r USING (band, key)
        | WHERE bd.doc_id > r.i)
        |SELECT c.i, c.j, bit_count(xor(a.simhash, c.sb)) AS hamming
        |FROM cand c JOIN sims a ON a.doc_id = c.i
        |WHERE bit_count(xor(a.simhash, c.sb)) <= 3""".stripMargin,
    "q62_multilink_clusters" ->
      // the q26 link chain ∪ the q27 link chain over a shared token
      // CTE, then the same recursive label closure as q51
      """WITH RECURSIVE dt AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS tok
        |  FROM documents),
        |sig AS (SELECT doc_id,
        |  MIN(md5('0#'||tok)) m0, MIN(md5('1#'||tok)) m1,
        |  MIN(md5('2#'||tok)) m2, MIN(md5('3#'||tok)) m3,
        |  MIN(md5('4#'||tok)) m4, MIN(md5('5#'||tok)) m5
        | FROM dt GROUP BY doc_id),
        |mbands AS (
        | SELECT doc_id, 0 b, md5(m0||m1) bk FROM sig UNION ALL
        | SELECT doc_id, 1 b, md5(m2||m3) bk FROM sig UNION ALL
        | SELECT doc_id, 2 b, md5(m4||m5) bk FROM sig),
        |mreps AS (SELECT b, bk, MIN(doc_id) i FROM mbands GROUP BY 1, 2),
        |mcand AS (SELECT DISTINCT r.i, bd.doc_id j
        | FROM mbands bd JOIN mreps r USING (b, bk)
        | WHERE bd.doc_id > r.i),
        |ctok AS MATERIALIZED (SELECT c.i, c.j, a.tok
        | FROM mcand c JOIN dt a ON a.doc_id = c.i),
        |sizes AS (SELECT doc_id, COUNT(*) sz FROM dt GROUP BY 1),
        |inter AS (SELECT ct.i, ct.j, COUNT(*) inter FROM ctok ct
        |  JOIN dt b2 ON b2.doc_id = ct.j AND b2.tok = ct.tok
        |  GROUP BY ct.i, ct.j),
        |mlinks AS (SELECT it.i, it.j
        | FROM inter it JOIN sizes si ON it.i = si.doc_id
        | JOIN sizes sj ON it.j = sj.doc_id
        | WHERE it.inter / (si.sz + sj.sz - it.inter) >= 0.7),
        |hv AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv FROM dt),
        |bits AS (SELECT doc_id, b,
        |  SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) sw
        | FROM hv, generate_series(0, 47) t(b) GROUP BY doc_id, b),
        |sims AS MATERIALIZED (SELECT doc_id,
        |  SUM(CASE WHEN sw > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
        |    AS simhash
        | FROM bits GROUP BY doc_id),
        |sbands AS (SELECT doc_id, simhash, b AS band,
        |  (simhash >> (12 * b)) & 4095 AS key
        | FROM sims, generate_series(0, 3) t(b)),
        |sreps AS (SELECT band, key, MIN(doc_id) i FROM sbands GROUP BY 1, 2),
        |scand AS (SELECT DISTINCT r.i, bd.doc_id j, bd.simhash sb
        | FROM sbands bd JOIN sreps r USING (band, key)
        | WHERE bd.doc_id > r.i),
        |slinks AS (SELECT c.i, c.j
        | FROM scand c JOIN sims a ON a.doc_id = c.i
        | WHERE bit_count(xor(a.simhash, c.sb)) <= 3),
        |links AS (SELECT i, j FROM mlinks UNION ALL SELECT i, j FROM slinks),
        |edges AS (SELECT i, j FROM links UNION ALL SELECT j, i FROM links),
        |rec(node, lab) AS (
        | SELECT DISTINCT i, i FROM edges
        | UNION
        | SELECT e.j, r.lab FROM rec r JOIN edges e ON e.i = r.node)
        |SELECT node AS doc_id, MIN(lab) AS cluster_id,
        | node = MIN(lab) AS is_keep
        |FROM rec GROUP BY node""".stripMargin,
    "q61_incr_dedup" ->
      """WITH d AS (SELECT doc_id, text, md5(text) fp,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 100 AS bucket
        | FROM documents),
        |corpus AS (SELECT DISTINCT fp FROM d WHERE bucket < 80),
        |batch AS (SELECT * FROM d WHERE bucket >= 80)
        |SELECT MIN(doc_id) AS doc_id, fp, COUNT(*) AS n_batch_copies
        |FROM batch WHERE fp NOT IN (SELECT fp FROM corpus)
        |GROUP BY fp""".stripMargin,
    "q51_dedup_clusters" ->
      // the q26 link pipeline verbatim, then a recursive label closure:
      // every label reachable from a node is enumerated and the MIN
      // taken — the same fixpoint the Spark loop converges to
      s"""WITH RECURSIVE $MinhashLinksChainSql,
         |$CcClosureSql
         |SELECT node AS doc_id, MIN(lab) AS cluster_id,
         | node = MIN(lab) AS is_keep
         |FROM rec GROUP BY node""".stripMargin,
    "q73_passage_dedup" ->
      // stride-8 tiling via fixed generate_series + modulus (DuckDB's
      // generate_series rejects lateral column bounds); t[i:i+7] is the
      // INCLUSIVE 8-element slice
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS passage
        |  FROM toks, generate_series(1, ${OracleGen.MaxDocSeries}) g(i)
        |  WHERE (i % 8) = 1 AND i + 7 <= len(t)),
        |pd AS (SELECT passage, doc_id, COUNT(*) AS n FROM w GROUP BY 1, 2)
        |SELECT passage, COUNT(*) AS n_docs,
        | CAST(SUM(n) AS BIGINT) AS n_occurrences,
        | MIN(doc_id) AS first_doc_id
        |FROM pd GROUP BY passage HAVING COUNT(*) >= 2""".stripMargin,
    "q98_intradoc_dedup" ->
      // same fixed-series stride tiling as q73; first occurrence via a
      // per-(doc, tile) MIN window; reassembly = kept tiles in tile
      // order ++ the tail partial tile (NULLIF drops an empty tail so
      // concat_ws matches Spark's spelling byte-for-byte)
      s"""WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t
        |  FROM documents),
        |w AS (SELECT doc_id, i, array_to_string(t[i:i+1], ' ') AS tile
        |  FROM toks, generate_series(1, ${OracleGen.MaxDocSeries}) g(i)
        |  WHERE (i % 2) = 1 AND i + 1 <= len(t)),
        |f AS (SELECT doc_id, i, tile,
        |  MIN(i) OVER (PARTITION BY doc_id, tile) AS fi FROM w),
        |agg AS (SELECT doc_id, COUNT(*) AS n_tiles,
        |  COUNT(*) FILTER (WHERE i != fi) AS n_removed,
        |  string_agg(tile, ' ' ORDER BY i) FILTER (WHERE i = fi) AS kept
        |  FROM f GROUP BY doc_id),
        |tails AS (SELECT doc_id, text,
        |  CASE WHEN len(t) >= 2
        |    THEN array_to_string(t[(len(t)//2)*2+1 : len(t)], ' ')
        |    ELSE NULL END AS tail,
        |  len(t) AS nt FROM toks)
        |SELECT t.doc_id, COALESCE(a.n_tiles, 0) AS n_tiles,
        | COALESCE(a.n_removed, 0) AS n_removed,
        | md5(CASE WHEN t.nt < 2 THEN t.text
        |  ELSE concat_ws(' ', a.kept, NULLIF(t.tail, '')) END) AS clean_md5
        |FROM tails t LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "q74_cluster_canonical" ->
      // q51's chain + closure, then argmax-by-quality: max quality per
      // cluster, ties to MIN(doc_id) among the max-quality members —
      // both engines rank on the same 4dp-rounded quality
      s"""WITH RECURSIVE $MinhashLinksChainSql,
         |$CcClosureSql,
         |clusters AS (SELECT node AS doc_id, MIN(lab) AS cluster_id
         | FROM rec GROUP BY node),
         |q AS (SELECT doc_id, ${TextAnalysis.QualitySqlExpr} AS quality
         | FROM documents),
         |cq AS (SELECT c.cluster_id, c.doc_id, q.quality
         | FROM clusters c JOIN q USING (doc_id)),
         |m AS (SELECT cluster_id, MAX(quality) mq, COUNT(*) n_docs
         | FROM cq GROUP BY 1)
         |SELECT m.cluster_id, MIN(cq.doc_id) AS canonical_doc_id,
         | m.n_docs AS n_docs, m.mq AS quality
         |FROM cq JOIN m ON cq.cluster_id = m.cluster_id AND cq.quality = m.mq
         |GROUP BY m.cluster_id, m.n_docs, m.mq""".stripMargin,
    "q28_dedup_ngram" ->
      s"""WITH grams AS (SELECT DISTINCT doc_id, substr(text, g, 8) AS gram
        |  FROM documents, generate_series(1, ${OracleGen.MaxDocSeries}) t(g)
        |  WHERE g <= length(text) - 7),
        |rare AS (SELECT gram FROM grams GROUP BY gram
        |  HAVING COUNT(*) <= 4 AND COUNT(*) >= 2),
        |rg AS (SELECT g.doc_id, g.gram FROM grams g JOIN rare r USING (gram)),
        |cand AS (SELECT DISTINCT a.doc_id i, b.doc_id j FROM rg a
        |  JOIN rg b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |sizes AS (SELECT doc_id, COUNT(*) sz FROM grams GROUP BY 1),
        |inter AS (SELECT c.i, c.j, COUNT(*) inter FROM cand c
        |  JOIN grams a ON a.doc_id = c.i
        |  JOIN grams b2 ON b2.doc_id = c.j AND a.gram = b2.gram
        |  GROUP BY c.i, c.j)
        |SELECT it.i, it.j,
        | CAST(ROUND(CAST((it.inter / (si.sz + sj.sz - it.inter)) AS DECIMAL(28,10)), 4) AS DOUBLE) AS jaccard
        |FROM inter it JOIN sizes si ON it.i = si.doc_id
        |JOIN sizes sj ON it.j = sj.doc_id
        |WHERE it.inter / (si.sz + sj.sz - it.inter) >= 0.3""".stripMargin,
  )
}
