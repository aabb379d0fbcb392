package graft

import graft.operators.{Dedup, Pipeline, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Dedup / similarity / text-analysis semantics beyond the oracle gate:
  * known-answer checks and the ANN scale path's recall.
  */
class PipelineOpsSpec extends SparkTestBase {

  import Similarity.{IvfCodec, IvfLayout}
  private val FullIvf = IvfLayout(tenants = false, IvfCodec.Full)
  private val Sq8Ivf = IvfLayout(tenants = false, IvfCodec.Sq8)
  private val PqIvf = IvfLayout(tenants = false, IvfCodec.Pq)
  private val TenantIvf = IvfLayout(tenants = true, IvfCodec.Full)
  private val TenantPqIvf = IvfLayout(tenants = true, IvfCodec.Pq)

  test("minhash LSH finds the token-set-identical pairs") {
    // sf0.001 documents contain pairs with identical token SETS
    // (reordered near-duplicates): jaccard 1.0 must surface
    val pairs = Dedup.q26MinHashLsh(spark, sfDir).collect()
    assert(pairs.nonEmpty, "expected near-dup candidates")
    assert(pairs.exists(_.getAs[Double]("jaccard") == 1.0),
      "token-set-identical pairs must score jaccard 1.0")
    // LSH candidates are a superset check: identical signature ⇒ banded
    pairs.foreach(r => assert(r.getAs[Double]("jaccard") >= 0.7))
  }

  test("dedup clusters: valid CC of the link graph, one keeper per cluster") {
    val labels = Dedup.q51DedupClusters(spark, sfDir).cache()
    val links = Dedup.q26MinHashLsh(spark, sfDir).select("i", "j")
    try {
      // exactly one is_keep per cluster, and it IS the cluster_id
      val perCluster = labels.groupBy("cluster_id")
        .agg(sum(when(col("is_keep"), 1).otherwise(0)).as("keeps"),
          min("doc_id").as("min_id")).collect()
      assert(perCluster.nonEmpty)
      perCluster.foreach { r =>
        assert(r.getAs[Long]("keeps") == 1L, s"cluster $r keeper count")
        assert(r.getAs[Long]("min_id") == r.getAs[Long]("cluster_id"),
          s"cluster_id must be the component's min doc_id: $r")
      }
      // no link crosses clusters: both endpoints of every verified pair
      // carry the same label (CC soundness over every edge)
      val la = labels.select(col("doc_id").as("i"), col("cluster_id").as("ci"))
      val lb = labels.select(col("doc_id").as("j"), col("cluster_id").as("cj"))
      val crossing = links.join(la, "i").join(lb, "j")
        .filter(col("ci") =!= col("cj")).count()
      assert(crossing == 0L, s"$crossing links cross cluster boundaries")
    } finally labels.unpersist()
  }

  test("q74 reuses q51's published clusters frame: plan scans the " +
    "checkpoint instead of re-running MinHash+CC, output identical") {
    // a fresh q74 computes its own clusters (standalone correctness)
    val standalone = Dedup.q74ClusterCanonical(spark, sfDir).collect().toSet
    // after q51 publishes, q74's physical plan must be quality ⨝
    // checkpointed-labels: the materialized RDD scan appears, the
    // MinHash machinery (posexplode'd shingle hashing) does not
    Dedup.q51DedupClusters(spark, sfDir).write.format("noop")
      .mode("overwrite").save()
    val reused = Dedup.q74ClusterCanonical(spark, sfDir)
    val p = reused.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"), p.take(2000))
    assert(!p.toLowerCase.contains("posexplode"), p.take(2000))
    assert(reused.collect().toSet == standalone, "shared-frame q74 diverges")
  }

  test("q76 default join spelling: byte-identical rows to the " +
    "broadcast-map in-row fast path") {
    val inRow = TextAnalysis.tfIdfTermsInRow(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank"),
        r.getAs[String]("tok"), r.getAs[Double]("score"))).toSet
    val joined = TextAnalysis.q76TfIdfTerms(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank"),
        r.getAs[String]("tok"), r.getAs[Double]("score"))).toSet
    assert(inRow.nonEmpty)
    assert(joined == inRow,
      s"diff: ${(joined diff inRow).take(5)} / ${(inRow diff joined).take(5)}")
  }

  test("md5_prefix60 expression == conv(substring(md5(x),1,15),16,10) " +
    "on corpus tokens and random strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (Seq("", "a", "the", "ü ünïcode £", "8charstr") ++
      (1 to 500).map(_ => rnd.alphanumeric.take(rnd.nextInt(40)).mkString) ++
      graft.core.Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " "))).as[String]
        .take(500).toSeq).toDF("s")
    val mismatches = rows
      .withColumn("fast", graft.functions.geo.md5_prefix60(col("s")))
      .withColumn("ref", expr(
        "cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mismatches == 0L)
  }

  test("gram_hashes / winnow_stats == their SQL spellings, ASCII and " +
    "unicode (non-ASCII takes the per-gram fallback path)") {
    import spark.implicits._
    import graft.functions.geo.{gram_hashes, winnow_stats}
    val rnd = new scala.util.Random(7)
    val rows = (Seq("", "short", "exactly8", "ascii text of moderate length",
      "ünïcode — ünïcode — ünïcode tëxt lòng énough för grams") ++
      (1 to 200).map(_ => rnd.alphanumeric.take(8 + rnd.nextInt(60)).mkString))
      .toDF("s").filter(length(col("s")) >= 8)
    val gMismatch = rows
      .withColumn("fast", gram_hashes(col("s"), 8))
      .withColumn("ref", expr(
        "array_distinct(transform(sequence(1, length(s) - 7), g -> xxhash64(substring(s, g, 8))))"))
      .filter(col("fast") =!= col("ref")).count()
    assert(gMismatch == 0L, "gram_hashes diverges from the SQL spelling")
    val wMismatch = rows
      .withColumn("w", winnow_stats(col("s")))
      .withColumn("hvs", expr(
        "transform(sequence(1, length(s) - 7), g -> cast(conv(substring(md5(substring(s, g, 8)), 1, 15), 16, 10) as bigint))"))
      .withColumn("wmins", expr(
        "transform(sequence(1, size(hvs)), i -> array_min(slice(hvs, i, 8)))"))
      .filter(col("w.n_fingerprints") =!= size(array_distinct(col("wmins"))).cast("long") ||
        col("w.min_fp") =!= expr("array_min(wmins)") ||
        col("w.max_fp") =!= expr("array_max(wmins)")).count()
    assert(wMismatch == 0L, "winnow_stats diverges from the SQL spelling")
    // token shingles: in-place hash == md5_prefix60 of the joined window
    val w = split(col("s"), " ")
    val sMismatch = rows
      .withColumn("fast", graft.functions.geo.token_shingle_hashes(col("s"), 3))
      .withColumn("ref", when(size(w) >= 3,
        array_distinct(transform(sequence(lit(1), size(w) - 2),
          i => graft.functions.geo.md5_prefix60(
            array_join(slice(w, i, lit(3)), " ")))))
        .otherwise(array().cast("array<bigint>")))
      .filter(col("fast") =!= col("ref")).count()
    assert(sMismatch == 0L, "token_shingle_hashes diverges from the SQL spelling")
  }

  test("q54 packing conserves the corpus: every doc and token lands in " +
    "exactly one (shard, seq)") {
    import graft.operators.Pipeline
    val packed = Pipeline.q54Pack(spark, sfDir).collect()
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect()
    assert(packed.map(_.getAs[Long]("n_docs")).sum == docs.length.toLong)
    assert(packed.map(_.getAs[Long]("seq_tokens")).sum ==
      docs.map(_.getAs[Long]("n")).sum)
    // per shard: sequence ordinals are contiguous from 0 (a hole would
    // mean a sequence the trainer never materializes)
    packed.groupBy(_.getAs[Long]("shard")).foreach { case (sh, rows) =>
      val seqs = rows.map(_.getAs[Long]("seq")).sorted
      assert(seqs.head == 0L && seqs.zipWithIndex.forall { case (s, i) => s == i },
        s"shard $sh has non-contiguous sequences: ${seqs.toSeq}")
    }
  }

  test("q55 contamination: overlaps are real 13-gram matches across a " +
    "disjoint train/eval split") {
    import graft.operators.Pipeline
    val hits = Pipeline.q55Contamination(spark, sfDir).collect()
    assert(hits.nonEmpty, "corpus plants near-duplicates; the 20% sample " +
      "must catch at least one cross-split pair")
    // the example train doc must genuinely share a 13-token window with
    // the eval doc — recomputed directly from the texts
    val texts = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    def grams(t: String): Set[String] =
      t.split(" ").sliding(13).filter(_.length == 13).map(_.mkString(" ")).toSet
    hits.foreach { r =>
      val e = r.getAs[Long]("eval_id"); val t = r.getAs[Long]("example_train_id")
      assert(e != t, "a doc cannot contaminate itself across disjoint splits")
      assert(grams(texts(e)).intersect(grams(texts(t))).nonEmpty,
        s"eval $e and train $t report overlap but share no 13-gram")
    }
  }

  test("freq_items: exact when capacity >= distinct; MG undercount bound " +
    "and heavy-hitter survival when over capacity") {
    import spark.implicits._
    import graft.functions.geo.freq_items
    // exact regime: 3 distinct items, capacity 8 — counts are exact
    val exact = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c")
    val ex = exact.toDF("x").repartition(4)
      .agg(freq_items($"x", 8).as("fi"))
      .select(explode($"fi").as("e"))
      .select($"e.item", $"e.cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ex == Map("a" -> 5L, "b" -> 3L, "c" -> 2L))
    // over capacity: 400 occurrences of the heavy item in n=1000, 600
    // distinct fillers, capacity 8. MG guarantees the retained count
    // undercounts by at most n/capacity = 125, so the heavy item MUST
    // survive with cnt in [275, 400] — across partition merges too
    val heavy = Seq.fill(400)("HH") ++ (1 to 600).map(i => s"f$i")
    val mg = heavy.toDF("x").repartition(8)
      .agg(freq_items($"x", 8).as("fi"))
      .select(explode($"fi").as("e"))
      .select($"e.item", $"e.cnt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mg.size <= 8, s"capacity violated: ${mg.size}")
    assert(mg.contains("HH"), s"heavy hitter evicted: $mg")
    assert(mg("HH") >= 400L - 125L && mg("HH") <= 400L, s"bound: ${mg("HH")}")
  }

  test("q69 chunking: stride overlap is exact and chunks reconstruct " +
    "the document losslessly") {
    import spark.implicits._
    val chunks = TextAnalysis.q69Chunk(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val texts = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(chunks.keySet == texts.keySet, "every document chunks")
    chunks.foreach { case (id, rows) =>
      val byId = rows.sortBy(_.getAs[Long]("chunk_id"))
        .map(r => (r.getAs[String]("chunk").split(" "),
          r.getAs[Long]("chunk_tokens")))
      byId.foreach { case (toks, n) => assert(toks.length == n.toInt) }
      // consecutive full chunks overlap by exactly win-stride = 16
      byId.sliding(2).filter(_.length == 2).foreach { pair =>
        val (a, b) = (pair(0)._1, pair(1)._1)
        if (a.length == 64)
          assert(a.drop(48).sameElements(b.take(16)),
            s"doc $id: overlap mismatch")
      }
      // first `stride` tokens of each chunk + the tail of the last
      // chunk stitch the original text back together
      val stitched = (byId.init.flatMap(_._1.take(48)) ++ byId.last._1)
        .mkString(" ")
      assert(stitched == texts(id), s"doc $id does not reconstruct")
    }
  }

  test("q70 token ids: in-vocab tokens round-trip through the id map, " +
    "OOV encodes 0, encoding is partition-invariant") {
    import spark.implicits._
    val enc = TextAnalysis.q70TokenIds(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("ids")).toMap
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    // rebuild the expected vocab (top-VocabSize by count desc, tok asc)
    val counts = docs.values.flatMap(_.split(" "))
      .groupBy(identity).view.mapValues(_.size).toMap
    val vocab = counts.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(TextAnalysis.VocabSize).map(_._1).zipWithIndex
      .map { case (t, i) => t -> (i + 1L) }.toMap
    assert(counts.size > TextAnalysis.VocabSize,
      "corpus must have OOV tokens for this test to mean anything")
    docs.foreach { case (id, text) =>
      val expected = text.split(" ").map(t => vocab.getOrElse(t, 0L))
      assert(enc(id) == expected.mkString(","), s"doc $id encodes wrong")
    }
    assert(enc.values.exists(_.split(",").contains("0")),
      "some documents must contain OOV (id 0) tokens")
  }

  test("SQL surface: sketch and heap aggregates callable from spark.sql") {
    import spark.implicits._
    graft.functions.geo.register(spark)
    Seq(("a", 3L), ("b", 1L), ("a", 2L)).toDF("x", "w")
      .createOrReplaceTempView("sql_sketch_t")
    val unweighted = spark.sql(
      """SELECT e.item, e.cnt FROM
        |  (SELECT explode(freq_items(x, 8)) AS e FROM sql_sketch_t)""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(unweighted == Map("a" -> 2L, "b" -> 1L))
    val weighted = spark.sql(
      """SELECT e.item, e.cnt FROM
        |  (SELECT explode(freq_items(x, w, 8)) AS e FROM sql_sketch_t)""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(weighted == Map("a" -> 5L, "b" -> 1L))
    val topk = spark.sql(
      // implicit casts: w is BIGINT (ord wants double), x is the payload
      "SELECT top_k_by(w, x, 1) AS t FROM sql_sketch_t")
      .selectExpr("t[0].payload").as[String].head()
    assert(topk == "a")
    (1L to 100L).toDF("k").createOrReplaceTempView("sql_bloom_t")
    val probes = spark.sql(
      """SELECT might_contain(bf, 42), might_contain(bf, 5000) FROM
        |  (SELECT bloom_agg(k, 4096, 4) AS bf FROM sql_bloom_t)""".stripMargin)
      .head()
    assert(probes.getBoolean(0), "inserted key must probe true")
    assert(!probes.getBoolean(1), "4k bits / 100 keys: far miss must probe false")
  }

  test("nfc_normalize: composes decomposed accents; ASCII fast path; " +
    "normalizeText strips controls and collapses whitespace") {
    import spark.implicits._
    import graft.functions.geo.nfc_normalize
    val rows = Seq(
      "café",   // decomposed e + U+0301 -> precomposed é
      "café",    // already NFC — unchanged
      "plain ascii",  // fast path: numBytes == numChars, no conversion
      "Å ring", // A + combining ring -> Å
      "")
    val got = rows.toDF("s").select(nfc_normalize($"s")).as[String].collect()
    assert(got.toSeq == Seq("café", "café", "plain ascii",
      "Å ring", ""))
    // SQL registration surface
    graft.functions.geo.register(spark)
    rows.take(1).toDF("s").createOrReplaceTempView("nfc_t")
    assert(spark.sql("SELECT nfc_normalize(s) FROM nfc_t")
      .as[String].head() == "café")
    // full cleaning stage: NFC + control strip + [ \t]+ collapse + trim
    val cleaned = Seq(" xyz  a\tb\té\r\n")
      .toDF("text")
      .select(graft.operators.TextAnalysis.normalizeText($"text"))
      .as[String].head()
    assert(cleaned == "xyz a b é\n", s"got <$cleaned>")
  }

  test("pii redact: emails/phones/ips counted and replaced; clean and " +
    "adversarial near-miss text untouched") {
    import spark.implicits._
    import graft.ops.text.Pii
    val rows = Seq(
      // two emails, one phone, one ip in a single document
      ("a@b.com wrote to c.d+tag@sub.example.org call (044) 123-4567 " +
        "from 192.168.0.1 done", 2L, 1L, 1L),
      // near-misses: bare @, short digit run, 3-octet dotted number,
      // version strings — none should match
      ("user @ host 12345 v1.2.3 10.0.42 nothing", 0L, 0L, 0L),
      ("plain prose with no contact information at all", 0L, 0L, 0L),
      ("+1-555-000-0199", 0L, 1L, 0L),
      ("", 0L, 0L, 0L))
    val got = rows.map(_._1).toDF("t")
      .select(Pii.countEmails($"t").cast("long"),
        Pii.countPhones($"t").cast("long"),
        Pii.countIpv4($"t").cast("long"),
        Pii.redact($"t")).collect()
    rows.zip(got).foreach { case ((t, e, p, i), r) =>
      assert(r.getLong(0) == e, s"emails in <$t>: ${r.getLong(0)}")
      assert(r.getLong(1) == p, s"phones in <$t>: ${r.getLong(1)}")
      assert(r.getLong(2) == i, s"ips in <$t>: ${r.getLong(2)}")
      val red = r.getString(3)
      assert(!red.matches(s".*${Pii.EmailRe}.*"), s"email survives: $red")
      if (e + p + i == 0) assert(red == t, s"clean text modified: <$red>")
    }
    val redacted = got.head.getString(3)
    assert(redacted ==
      "[EMAIL] wrote to [EMAIL] call [PHONE] from [IP] done",
      s"unexpected redaction: $redacted")
  }

  test("pii staged counts: digit runs inside an email local-part are " +
    "the email's, never a phone (counts agree with redaction)") {
    import spark.implicits._
    import graft.ops.text.Pii
    // the raw PhoneRe WOULD match the 8-digit run inside the
    // local-part; the staged count must not, and redact() must emit
    // [EMAIL] with zero [PHONE]
    val r = Seq("contact u12345678@mail.example.com and 1.2.3.4@x.org now")
      .toDF("t")
      .select(Pii.countEmails($"t").cast("long"),
        Pii.countPhonesAfterEmails($"t").cast("long"),
        Pii.countIpv4AfterPhones($"t").cast("long"),
        Pii.countPhones($"t").cast("long"),
        Pii.redact($"t")).head()
    assert(r.getLong(0) == 2L)
    assert(r.getLong(1) == 0L, "local-part digits counted as phone")
    assert(r.getLong(2) == 0L, "local-part quad counted as IP")
    assert(r.getLong(3) == 1L, "raw count should still see the span " +
      "(guards the regression test itself)")
    assert(r.getString(4) == "contact [EMAIL] and [EMAIL] now")
  }

  test("freq_items weighted: exact weighted counts under capacity; " +
    "undercount bound over total weight when over capacity") {
    import spark.implicits._
    import graft.functions.geo.freq_items
    // exact regime: per-item weights sum; null/non-positive rows skip
    val ex = Seq(("a", 5L), ("b", 2L), ("a", 7L), ("c", 1L), ("b", 4L),
        ("a", 0L), ("c", -3L))
      .toDF("x", "w").repartition(3)
      .agg(freq_items($"x", $"w", 8).as("fi"))
      .select(explode($"fi").as("e")).select($"e.item", $"e.cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ex == Map("a" -> 12L, "b" -> 6L, "c" -> 1L))
    // over capacity: seeded weighted stream through 4 buffers, merged
    // the way the aggregate merges (addRaw + trim); the weighted MG
    // guarantee is est <= true and true - est <= W/(capacity+1), and
    // anything heavier than that bound must survive the merges
    val rnd = new scala.util.Random(42)
    val stream = (1 to 2000).map { _ =>
      val item = if (rnd.nextInt(100) < 30) "HH" else s"f${rnd.nextInt(400)}"
      (item, 1L + rnd.nextInt(9))
    }
    val exact = stream.groupMapReduce(_._1)(_._2)(_ + _)
    val cap = 16
    val bound = stream.map(_._2).sum / (cap + 1)
    val merged = stream.grouped(500).map { chunk =>
      val b = new org.apache.spark.sql.graft.FreqItemsBuffer(cap)
      chunk.foreach { case (i, w) => b.add(i, w) }
      b
    }.reduce { (a, b) =>
      b.counters.foreach { case (i, c) => a.addRaw(i, c) }
      a.trim(); a
    }
    assert(merged.counters.size <= cap, s"capacity violated: ${merged.counters.size}")
    merged.counters.foreach { case (i, c) =>
      assert(c <= exact(i), s"$i overcounted: $c > ${exact(i)}")
      assert(exact(i) - c <= bound, s"$i undercounts by ${exact(i) - c} > $bound")
    }
    exact.foreach { case (i, w) =>
      if (w > bound)
        assert(merged.counters.contains(i), s"heavy item $i ($w > $bound) evicted")
    }
    assert(merged.counters.contains("HH"))
  }

  test("connectedComponents: adversarial 64-node chain converges " +
    "logarithmically, disjoint components stay separate") {
    import spark.implicits._
    // a path graph is the worst case for plain min-propagation (label 0
    // crawls one hop per round, diameter = 63); pointer-jumping must
    // close it within 10 rounds — maxRounds=10 means a slower algorithm
    // returns WRONG labels here, which the asserts catch
    val chain = (0L until 63L).map(k => (k, k + 1))
    val island = Seq((100L, 101L), (101L, 102L))
    val labels = Dedup.connectedComponents(
        (chain ++ island).toDF("i", "j"), maxRounds = 10)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("lab")).toMap
    (0L to 63L).foreach(n => assert(labels(n) == 0L, s"chain node $n"))
    (100L to 102L).foreach(n => assert(labels(n) == 100L, s"island node $n"))
    assert(labels.size == 67)
    // 8x the diameter must cost ~3 more rounds, not 8x: 512 nodes
    // within 13 rounds is only reachable with the jump step
    val (bigDf, bigRounds) = Dedup.connectedComponentsWithRounds(
        (0L until 511L).map(k => (k, k + 1)).toDF("i", "j"), maxRounds = 13)
    val big = bigDf
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("lab"))
    assert(big.length == 512 && big.forall(_._2 == 0L),
      "512-chain did not converge within 13 rounds")
    // the logarithmic claim, asserted on the actual counter: 9 rounds
    // measured; a diameter-bound loop would need ~511
    assert(bigRounds <= 10, s"jump loop took $bigRounds rounds on the 512-chain")
  }

  /** `body`'s result and the number of Spark jobs it ran, counted by a
    * listener on a fresh job group. The listener bus is asynchronous, so
    * a sentinel job in a second group fences it: once the sentinel's end
    * arrives, every earlier job start has been seen.
    */
  private def jobsIn[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"cc-jobs-${java.util.UUID.randomUUID}"
    val fence = group + "-fence"
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val fenceId = new java.util.concurrent.atomic.AtomicInteger(-1)
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => seen.incrementAndGet()
          case Some(`fence`) => fenceId.set(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceId.get) fenced.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally {
        sc.setJobGroup(fence, "listener fence")
        sc.parallelize(Seq(1), 1).count()
        sc.clearJobGroup()
      }
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener fence never arrived")
      (out, seen.get)
    } finally sc.removeSparkListener(listener)
  }

  test("connectedComponents runs one Spark job per round: the 512-chain " +
    "in <= rounds + 2 jobs, result collect included") {
    import spark.implicits._
    val chain = (0L until 511L).map(k => (k, k + 1)).toDF("i", "j")
    val ((big, rounds), jobs) = jobsIn {
      val (df, r) = Dedup.connectedComponentsWithRounds(chain)
      (df.collect().map(_.getLong(1)), r)
    }
    assert(big.length == 512 && big.forall(_ == 0L))
    assert(rounds == 9, s"512-chain took $rounds rounds")
    // the DataFrame loop this replaced ran 85 jobs here
    assert(jobs <= rounds + 2, s"$jobs jobs for $rounds rounds")
  }

  test("connectedComponents round hygiene: live persisted RDDs after the " +
    "loop stay bounded independent of the round count, local and durable") {
    import spark.implicits._
    val sc = spark.sparkContext
    val chain = (0L until 511L).map(k => (k, k + 1)).toDF("i", "j")
    val dir = java.nio.file.Files.createTempDirectory("ckpt_cc_hyg").toString
    Seq(None, Some(dir)).foreach { ckpt =>
      val before = sc.getPersistentRDDs.keySet
      val (df, rounds) = Dedup.connectedComponentsWithRounds(chain,
        checkpointDir = ckpt)
      assert(df.filter($"lab" =!= 0L).count() == 0L)
      val live = sc.getPersistentRDDs.keySet -- before
      // 9 rounds: a per-round leak of labels, hop rows or edges would
      // leave >= 9 here; only the returned labels may stay pinned
      assert(rounds == 9 && live.size <= 2,
        s"checkpointDir=$ckpt: ${live.size} RDDs live after $rounds rounds")
      live.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
    }
  }

  test("connectedComponents: a 100 000-leaf star with a 512-chain hanging " +
    "off one leaf, plus an island — correct labels without buffering " +
    "the star's one-key jump requests") {
    import spark.implicits._
    val star = spark.range(1L, 100001L).select(lit(0L).as("i"), $"id".as("j"))
    val tail = ((100000L until 100511L).map(k => (k, k + 1)) :+
      ((200000L, 200001L))).toDF("i", "j")
    val labels = Dedup.connectedComponents(star.unionByName(tail))
    val census = labels.groupBy($"lab")
      .agg(count(lit(1)).as("n"), min($"node").as("lo"), max($"node").as("hi"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(census == Map(0L -> (100512L, 0L, 100511L),
      200000L -> (2L, 200000L, 200001L)), census.toString)
  }

  test("q177 semantic contamination: bands partition the eval set, " +
    "flagged rows only where cos>=0.95 can live, and the " +
    "precomputed-norm scoring equals the per-pair cosine spelling " +
    "band for band") {
    import spark.implicits._
    import graft.operators.Similarity
    val census = Similarity.q177SemanticContamination(spark, sfDir)
      .collect()
    assert(census.length == 10)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val ids = Similarity.evalSampleIds(emb.select($"vec_id"),
      Similarity.EvalSampleN)
    val nEval = ids.count()
    assert(census.map(_.getLong(1)).sum == nEval,
      "band counts must partition the eval sample")
    census.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
    assert(census.filter(_.getLong(0) < 9L).forall(_.getLong(2) == 0L),
      "flagged (cos>=0.95) eval docs can only land in the top band")
    // independent spelling: per-pair cosine (norms recomputed inside
    // every pair) must land the identical per-eval maxima — the
    // precomputed-norm optimization preserves every double
    val eval = broadcast(emb.join(ids, $"vec_id" === $"eval_id")
      .select($"eval_id",
        expr("transform(embedding, x -> cast(x as double))").as("ev")))
    val alt = emb.join(ids, $"vec_id" === $"eval_id", "left_anti")
      .select(expr("transform(embedding, x -> cast(x as double))")
        .as("tv"))
      .crossJoin(eval)
      .groupBy($"eval_id")
      .agg(max(coalesce(round(Similarity.cosine($"tv", $"ev"), 6),
        lit(-2.0))).as("max_cos"))
      .select(greatest(lit(0L), least(lit(9L),
        expr("CAST(ROUND(max_cos * 1000000) AS BIGINT) div 100000")))
        .as("band"))
      .groupBy($"band").agg(count(lit(1)).as("n_eval"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = census.map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._2 > 0L).toMap
    assert(got == alt,
      s"precomputed-norm census $got diverges from per-pair $alt")
    spark.catalog.clearCache()
  }

  test("q176 PSI laws: identical snapshots read exactly zero per band; " +
    "every term is non-negative (same-sign difference and log); a " +
    "deliberately shifted distribution crosses the 0.2 alarm") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def quality(docs: org.apache.spark.sql.DataFrame) =
      TextAnalysis.corpusFilterCols(docs).select($"doc_id", $"quality")
    val docs = quality(graft.core.Tables.documents(spark, sfDir))
      .localCheckpoint(false)
    // PSI(X, X) == 0 in every band, exactly (integer counts equal)
    val self = TextAnalysis.psiBands(docs, docs).collect()
    assert(self.length == 10)
    assert(self.forall(_.getDouble(5) == 0.0), self.mkString("\n"))
    // non-negativity: (pA−pB) and ln(pA/pB) always share a sign
    val split = TextAnalysis.psiBands(
      docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 =!= 0))
      .collect()
    assert(split.forall(_.getDouble(5) >= 0.0))
    // a corpus whose quality collapsed (all text identical spam) must
    // fire the 0.2 alarm against the real corpus
    val spam = quality(graft.core.Tables.documents(spark, sfDir)
      .withColumn("text", lit("spam spam spam"))
      .withColumn("n_chars", lit(14L)))
    val drifted = TextAnalysis.psiBands(docs, spam).collect()
    assert(drifted.map(_.getDouble(5)).sum >= 0.2,
      s"collapsed corpus must read as shifted: ${drifted.mkString("\n")}")
    spark.catalog.clearCache()
  }

  test("q173 root swap physics: the old generation stays byte-readable " +
    "after publish (in-flight reader contract), the compacted " +
    "generation physically drops exactly the dead rows, and an " +
    "unpublished base / unwritten generation both refuse") {
    import spark.implicits._
    import graft.core.Roots
    import graft.operators.TextAnalysis
    val docs = graft.core.Tables.documents(spark, sfDir)
    val base = java.nio.file.Files.createTempDirectory("swap").toString
    intercept[IllegalArgumentException](Roots.currentGen(spark, base))
    intercept[IllegalArgumentException](Roots.publish(spark, base, "gen9"))
    TextAnalysis.bm25IndexWrite(docs, s"$base/gen0")
    Roots.publish(spark, base, "gen0")
    assert(Roots.current(spark, base) == s"$base/gen0")
    TextAnalysis.bm25Delete(
      docs.filter($"doc_id" % 7 === 3).select($"doc_id"),
      Roots.current(spark, base))
    val gen0Total = spark.read.parquet(s"$base/gen0").count()
    val gen0Dead = spark.read.parquet(s"$base/gen0")
      .join(spark.read.parquet(s"$base/gen0/_tombstones").distinct(),
        Seq("doc_id"), "left_semi").count()
    val tombstonedProbe = TextAnalysis.bm25Probe(spark,
      Roots.current(spark, base), TextAnalysis.Bm25Query).collect().toSeq
    TextAnalysis.bm25Compact(spark, s"$base/gen0", s"$base/gen1")
    Roots.publish(spark, base, "gen1")
    assert(Roots.current(spark, base) == s"$base/gen1")
    // compacted generation = live rows only, no tombstone sidecar
    assert(spark.read.parquet(s"$base/gen1").count() ==
      gen0Total - gen0Dead)
    assert(!graft.core.Fs.exists(spark, s"$base/gen1/_tombstones"))
    // swap is answer-invariant, and the OLD generation still serves
    // the identical answer for readers that resolved it pre-swap
    assert(TextAnalysis.bm25Probe(spark, Roots.current(spark, base),
      TextAnalysis.Bm25Query).collect().toSeq == tombstonedProbe)
    assert(TextAnalysis.bm25Probe(spark, s"$base/gen0",
      TextAnalysis.Bm25Query).collect().toSeq == tombstonedProbe)
  }

  test("q180 tenant purge physics: live postings hold zero purged-tenant " +
    "rows, the tenant's stats fold to exactly (0,0), the survivor's " +
    "probe is byte-identical to pre-purge, and a second purge is a " +
    "no-op (idempotent offboarding)") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = graft.core.Tables.documents(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("purge").toString
    TextAnalysis.bm25IndexWriteTenants(docs, path)
    val survivor = TextAnalysis.TenantLangs.head
    val purged = TextAnalysis.TenantLangs(1)
    val preSurvivor = TextAnalysis.bm25ProbeTenant(spark, path,
      survivor, TextAnalysis.Bm25Query).collect().toSeq
    TextAnalysis.bm25PurgeTenant(spark, path, purged)
    def liveZh() = spark.read.parquet(path)
      .filter($"lang" === purged)
      .join(spark.read.parquet(s"$path/_tombstones").distinct(),
        Seq("doc_id"), "left_anti").count()
    def statsZh() = spark.read.parquet(s"$path/_stats")
      .filter($"lang" === purged)
      .agg(sum($"nd"), sum($"tl")).head()
    def tombs() = spark.read.parquet(s"$path/_tombstones").count()
    assert(liveZh() == 0L)
    assert(statsZh().getLong(0) == 0L && statsZh().getLong(1) == 0L)
    assert(TextAnalysis.bm25ProbeTenant(spark, path, purged,
      TextAnalysis.Bm25Query).count() == 0L)
    assert(TextAnalysis.bm25ProbeTenant(spark, path, survivor,
      TextAnalysis.Bm25Query).collect().toSeq == preSurvivor)
    // idempotence: re-purging an already-purged tenant appends nothing
    val t1 = tombs()
    TextAnalysis.bm25PurgeTenant(spark, path, purged)
    assert(tombs() == t1)
    assert(statsZh().getLong(0) == 0L && statsZh().getLong(1) == 0L)
    graft.core.Fs.deleteRecursive(spark, path)
  }

  test("bm25PurgeTenantAtomic: tombstones + stats land in one batch-" +
    "tagged publish, a replayed opId refuses and leaves the layout " +
    "untouched, and a fresh opId over a purged tenant nets zero") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = graft.core.Tables.documents(spark, sfDir)
    val path = java.nio.file.Files.createTempDirectory("apurge").toString
    TextAnalysis.bm25IndexWriteTenants(docs, path)
    val survivor = TextAnalysis.TenantLangs.head
    val purged = TextAnalysis.TenantLangs(1)
    val preSurvivor = TextAnalysis.bm25ProbeTenant(spark, path,
      survivor, TextAnalysis.Bm25Query).collect().toSeq
    val opId = graft.streaming.IngestCommit.committed(spark, path) + 1L
    assert(TextAnalysis.bm25PurgeTenantAtomic(spark, path, purged, opId))
    def statsZh() = spark.read.parquet(s"$path/_stats")
      .filter($"lang" === purged).agg(sum($"nd"), sum($"tl")).head()
    def tombs() = spark.read.parquet(s"$path/_tombstones").count()
    assert(spark.read.parquet(path).filter($"lang" === purged)
      .join(spark.read.parquet(s"$path/_tombstones").distinct(),
        Seq("doc_id"), "left_anti").count() == 0L)
    assert(statsZh().getLong(0) == 0L && statsZh().getLong(1) == 0L)
    assert(TextAnalysis.bm25ProbeTenant(spark, path, survivor,
      TextAnalysis.Bm25Query).collect().toSeq == preSurvivor)
    // the publish is batch-tagged: every tombstone/stats file of this
    // purge carries the b<opId>- prefix (the scrub-on-replay handle)
    def tagged(dir: String) = Option(new java.io.File(dir).listFiles)
      .toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      .count(_.getName.startsWith(s"b$opId-"))
    assert(tagged(s"$path/_tombstones") >= 1)
    assert(tagged(s"$path/_stats") >= 1)
    // replay of the SAME opId refuses: layout byte-state untouched
    val t1 = tombs()
    assert(!TextAnalysis.bm25PurgeTenantAtomic(spark, path, purged, opId))
    assert(tombs() == t1)
    // a FRESH opId over the already-purged tenant converges: zero new
    // victims, a zero stats delta (the -(net) rule over net = 0)
    assert(TextAnalysis.bm25PurgeTenantAtomic(spark, path, purged, opId + 1L))
    assert(tombs() == t1)
    assert(statsZh().getLong(0) == 0L && statsZh().getLong(1) == 0L)
    graft.core.Fs.deleteRecursive(spark, path)
  }

  test("q189/q190 savings laws: the band census partitions the corpus " +
    "exactly; the threshold sweep is monotone non-increasing in tau; " +
    "every exact-dup loser is removable at every tau") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = graft.core.Tables.documents(spark, sfDir)
    val n = docs.count()
    val bands = Dedup.q189DedupSavings(spark, sfDir).collect()
    assert(bands.map(_.getLong(2)).sum == n,
      "q189 band doc counts must partition the corpus")
    // dup tokens only in dup bands; the '1' band removes nothing
    bands.filter(_.getString(0) == "1").foreach { r =>
      assert(r.getLong(3) == 0L && r.getLong(4) == 0L)
    }
    val sweep = Dedup.q190NeardupSweep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    sweep.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._2 >= hi._2 && lo._3 >= hi._3 && lo._4 >= hi._4,
          s"sweep must be monotone non-increasing: $lo vs $hi")
      case _ =>
    }
    // exact-dup losers have Jaccard 1 with their keeper, and identical
    // texts share every band bucket, so they are candidates — every
    // exact loser must be removable even at the strictest tau
    val losers = docs.withColumn("fp", md5($"text"))
      .groupBy($"fp").agg(count(lit(1)).as("nc"))
      .filter($"nc" > 1)
      .agg(coalesce(sum($"nc" - 1), lit(0L))).head().getLong(0)
    assert(sweep.last._3 >= losers,
      s"tau=90 removable (${sweep.last._3}) must cover the " +
        s"$losers exact-dup losers")
    spark.catalog.clearCache()
  }

  test("q184 SCD2: slicing the history at ANY version equals the " +
    "mergeApply chain prefix at that version (key set and lang); " +
    "per-key intervals are ordered and non-overlapping; a delete " +
    "closes without opening and a later upsert resurrects") {
    import spark.implicits._
    import graft.operators.Pipeline
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"text").localCheckpoint(false)
    def delta(pred: org.apache.spark.sql.Column, op: String) =
      docs.filter(pred).select($"doc_id", lit(op).as("op"), $"lang",
        $"text")
    val d1 = delta($"doc_id" % 5 === 0, "upsert")
    val d2 = delta($"doc_id" % 7 === 0, "delete")
    val d3 = delta($"doc_id" % 3 === 0, "upsert")
    val hist = Pipeline.q184Scd2History(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) Long.MaxValue else r.getLong(3)))
    // point-in-time law at every version boundary
    val states = Seq(d1, d2, d3).scanLeft(docs) { (s0, d) =>
      Pipeline.mergeApply(s0, d).select($"doc_id", $"lang", $"text")
        .localCheckpoint(false)
    }
    states.zipWithIndex.foreach { case (st, v) =>
      val want = st.select($"doc_id", $"lang").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val got = hist.filter(h => h._3 <= v && v < h._4)
        .map(h => (h._1, h._2)).toSet
      assert(got == want, s"history sliced at v=$v diverges from the " +
        s"mergeApply chain prefix (${got.size} vs ${want.size} keys)")
    }
    // interval discipline per key
    hist.groupBy(_._1).foreach { case (k, rows) =>
      val sorted = rows.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 <= b._3, s"key $k: overlapping intervals $a $b")
        case _ =>
      }
      assert(sorted.count(_._4 == Long.MaxValue) <= 1,
        s"key $k: more than one open interval")
    }
    // resurrection: a key hit by the v2 delete AND the v3 upsert has
    // a closed interval at 2 and a current one opening at 3
    val res = hist.filter(h => h._1 % 7 == 0 && h._1 % 3 == 0 &&
      h._1 % 5 != 0)
    assert(res.nonEmpty)
    val k0 = res.head._1
    val kRows = hist.filter(_._1 == k0).sortBy(_._3)
    assert(kRows.map(h => (h._3, h._4)).toSeq ==
      Seq((0L, 2L), (3L, Long.MaxValue)),
      s"key $k0: expected close-at-delete + resurrection, got " +
        kRows.mkString(", "))
    spark.catalog.clearCache()
  }

  test("durable-checkpoint knob: identical labels and keyed censuses " +
    "through reliable checkpoint(dir) — the executor-loss-safe " +
    "spelling cluster callers thread into the loop helpers") {
    import spark.implicits._
    import graft.operators.{Anomaly, Dedup}
    val chain = ((0L until 64L).map(i => (i, i + 1)) :+ (100L, 100L))
      .toDF("i", "j")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val dir = java.nio.file.Files.createTempDirectory("ckpt_cc").toString
    assert(canon(Dedup.connectedComponents(chain)) ==
      canon(Dedup.connectedComponents(chain, checkpointDir = Some(dir))),
      "jump-loop labels diverge under reliable checkpoint")
    assert(canon(Dedup.connectedComponentsStars(chain)) ==
      canon(Dedup.connectedComponentsStars(chain,
        checkpointDir = Some(dir))),
      "star-loop labels diverge under reliable checkpoint")
    // the reliable store actually received the rounds' blocks
    assert(new java.io.File(dir).listFiles().nonEmpty,
      "checkpoint dir unused — the durable path did not engage")
    val ev = graft.core.Tables.events(spark, sfDir)
    val dir2 = java.nio.file.Files.createTempDirectory("ckpt_ens").toString
    val local = Anomaly.keyedEnsembleCensus(ev).collect().map(_.toSeq).toSeq
    val durable = Anomaly.keyedEnsembleCensus(ev, Some(dir2))
      .collect().map(_.toSeq).toSeq
    assert(local == durable,
      "keyed ensemble census diverges under reliable checkpoint")
    assert(new java.io.File(dir2).listFiles().nonEmpty)
  }

  test("connectedComponentsStars: byte-identical labels to the jump " +
    "loop on chains, islands, and random graphs; log-bounded rounds") {
    import spark.implicits._
    // adversarial chain + disjoint island (the jump loop's fixture)
    val chain = (0L until 63L).map(k => (k, k + 1))
    val island = Seq((100L, 101L), (101L, 102L))
    val starLabels = Dedup.connectedComponentsStars(
        (chain ++ island).toDF("i", "j"), maxRounds = 10)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("lab")).toMap
    (0L to 63L).foreach(n => assert(starLabels(n) == 0L, s"chain node $n"))
    (100L to 102L).foreach(n => assert(starLabels(n) == 100L, s"island $n"))
    assert(starLabels.size == 67)
    // 512-chain: alternation is O(log n) — measured 10 rounds (the
    // jump loop takes 9; the promotion measurement in the
    // connectedComponents scaladoc).
    val (bigDf, bigRounds) = Dedup.connectedComponentsStarsWithRounds(
        (0L until 511L).map(k => (k, k + 1)).toDF("i", "j"), maxRounds = 14)
    val big = bigDf
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("lab"))
    assert(big.length == 512 && big.forall(_._2 == 0L),
      "512-chain did not converge within 14 rounds")
    assert(bigRounds <= 11, s"stars took $bigRounds rounds on the 512-chain")
    // random multi-component graph WITH self-loops: both algorithms
    // must agree exactly, including the self-loop-only node 300 whose
    // only "edge" is (300, 300) — the stars form must not drop it
    val rnd = new scala.util.Random(7)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b } :+ (300L, 300L) :+ (5L, 5L)
    val viaJump = Dedup.connectedComponents(edges.toDF("i", "j"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaStars = Dedup.connectedComponentsStars(edges.toDF("i", "j"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStars.contains((300L, 300L)), "self-loop-only node dropped")
    assert(viaStars == viaJump,
      s"diff: ${(viaStars diff viaJump).take(5)} / ${(viaJump diff viaStars).take(5)}")
  }

  test("simhash: identical token sets get identical simhash (hamming 0)") {
    val res = Dedup.q27SimHash(spark, sfDir)
    assert(res.filter(col("hamming") === 0).count() > 0)
  }

  test("ann bucket search: bucketed results are true cosines, bounded by exact max") {
    val brute = Similarity.q29BruteTopK(spark, sfDir).collect()
    val bruteMax = brute.map(_.getAs[Double]("cos")).max
    val bucketed = Similarity.annInBucket(spark, sfDir, 0L, 10).collect()
    assert(bucketed.nonEmpty, "query bucket must contain candidates")
    // bucketed is a subset search: its cosines can never beat the
    // exact maximum, and any shared vec_id must carry the same cosine
    bucketed.foreach(r => assert(r.getAs[Double]("cos") <= bruteMax))
    val bruteMap = brute.map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    bucketed.foreach { r =>
      bruteMap.get(r.getAs[Long]("vec_id")).foreach(c =>
        assert(c == r.getAs[Double]("cos")))
    }
  }

  test("ivf ann: probing more cells improves or preserves recall, full probe = exact") {
    import graft.core.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val (index, centroids) = Similarity.ivfIndex(emb, k = 8)
    assert(index.select("cell").distinct().count() <= 8)
    val q = emb.filter(col("vec_id") === 0)
      .selectExpr("cast(embedding as array<double>)").head()
      .getSeq[Double](0)
    val exact = Similarity.q29BruteTopK(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    def recall(nprobe: Int) = {
      val got = Similarity.ivfSearch(
        index.filter(col("vec_id") =!= 0), centroids, q, nprobe, 10)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      (got & exact).size
    }
    val r1 = recall(1); val r4 = recall(4); val rAll = recall(8)
    assert(r4 >= r1, s"recall must not degrade with more probes ($r1 -> $r4)")
    assert(rAll == 10, s"probing every cell must equal exact top-10, got $rAll")
  }

  // q101's CORRECTNESS row proves the probe result matches DuckDB;
  // this census proves the probe result is a GOOD ANN answer — recall
  // vs q29's exact top-10 — and that the fixed-centroid index is total
  // and converges to exact under a full probe.
  test("q101 deterministic ivf: index total, recall vs exact, full probe = exact") {
    import graft.core.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val (index, centroids) = Similarity.ivfIndexFixed(emb, 1L to 8L)
    // assignment is total and lands only on real cells
    assert(index.count() == emb.count())
    val cells = index.select("cell").distinct().collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf((1L to 8L).toSet) && cells.nonEmpty)
    val exact = Similarity.q29BruteTopK(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val probed = Similarity.q101AnnIvf(spark, sfDir).collect()
    assert(probed.length == 10)
    val recall = (probed.map(_.getAs[Long]("vec_id")).toSet & exact).size
    // nprobe=3 of 8 cells: the census value a reader can hold the
    // index to — at least half the exact neighbors must survive the
    // pruned probe on the fixture corpus
    assert(recall >= 5, s"ivf nprobe=3 recall $recall/10 vs exact")
    // probing every cell is a full scan: must recover exactly the
    // brute-force answer set
    val q = emb.filter(col("vec_id") === 0)
      .selectExpr("cast(embedding as array<double>)").head().getSeq[Double](0)
    val full = Similarity.ivfSearch(
      index.filter(col("vec_id") =!= 0), centroids, q, nprobe = 8, topK = 10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(full == exact, s"full probe must equal exact top-10")
  }

  // q128 composes q102's learned centroids into the IVF serving path
  // (the production shape: train a coarse quantizer, probe it). The
  // CORRECTNESS row hash-checks the composed trajectory vs DuckDB;
  // this census holds the learned index to the same recall contract
  // as the fixed one, at two pruned nprobe settings.
  test("q128 learned ivf: index total, recall monotone over two nprobe " +
    "settings, full probe = exact") {
    import graft.core.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val (index, cents) = Similarity.ivfLearned(emb, k = 8, iters = 2)
    // assignment is total; learned cells keep the seed ids 1..8
    assert(index.count() == emb.count())
    val cells = index.select("cell").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(cells.subsetOf((1L to 8L).toSet) && cells.nonEmpty)
    val exact = Similarity.q29BruteTopK(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val q = emb.filter(col("vec_id") === 0)
      .selectExpr("cast(embedding as array<double>)").head().getSeq[Double](0)
    def recall(nprobe: Int): Int = {
      val got = Similarity.ivfSearch(
        index.filter(col("vec_id") =!= 0), cents, q, nprobe, topK = 10)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      (got & exact).size
    }
    val r2 = recall(2); val r3 = recall(3); val rAll = recall(8)
    // two pruned settings: recall must not degrade with more probes,
    // and the 3-of-8 probe must keep at least half the exact answer
    assert(r2 <= r3, s"recall degraded with more probes ($r2 -> $r3)")
    assert(r3 >= 5, s"learned ivf nprobe=3 recall $r3/10 vs exact")
    assert(rAll == 10, s"probing every learned cell must equal exact, got $rAll")
  }

  test("q133 CDC chunking: shift invariance — prepending text preserves " +
    "most chunk hashes, while fixed tiling loses all alignment; chunks " +
    "reassemble the corpus losslessly") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"text")
    val chunks = Dedup.cdcChunks(docs)
      .select($"doc_id", $"chunk", $"chunk_toks").collect()
    // lossless: per-doc chunk token totals equal the doc's token count
    val tokCounts = docs.collect().map(r => r.getLong(0) ->
      r.getString(2).split(" ").count(_.nonEmpty).toLong).toMap
    val byDoc = chunks.groupBy(_.getLong(0))
    byDoc.foreach { case (id, cs) =>
      assert(cs.map(_.getLong(2)).sum == tokCounts(id),
        s"doc $id: chunk tokens must cover the doc exactly")
    }
    // shift invariance: prepend 3 alien tokens to every doc; chunk
    // hash multisets must largely survive (only the head region can
    // re-chunk), while q73-style fixed 8-token tiles almost all shift
    val shifted = docs.withColumn("text",
      concat(lit("zz0 zz1 zz2 "), $"text"))
    val origSet = chunks.map(_.getString(1)).groupBy(identity)
      .view.mapValues(_.size).toMap
    val shiftSet = Dedup.cdcChunks(shifted).select($"chunk").collect()
      .map(_.getString(0)).groupBy(identity).view.mapValues(_.size).toMap
    val kept = origSet.map { case (c, n) =>
      math.min(n, shiftSet.getOrElse(c, 0)) }.sum
    val total = origSet.values.sum
    val cdcRetention = kept.toDouble / total
    // fixed tiling comparator on the same corpus
    def tiles(df: org.apache.spark.sql.DataFrame): Map[String, Int] = df
      .select(explode(expr(
        """transform(sequence(1, greatest(1, size(filter(split(text, ' '),
          |  t -> length(t) > 0)) div 8)),
          |  i -> concat_ws(' ', slice(filter(split(text, ' '),
          |    t -> length(t) > 0), (i - 1) * 8 + 1, 8)))""".stripMargin))
        .as("tile")).collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.size).toMap
    val tOrig = tiles(docs); val tShift = tiles(shifted)
    val tKept = tOrig.map { case (c, n) =>
      math.min(n, tShift.getOrElse(c, 0)) }.sum
    val tileRetention = tKept.toDouble / tOrig.values.sum
    assert(cdcRetention > 0.7,
      s"CDC must keep most chunks under a 3-token shift: $cdcRetention")
    assert(cdcRetention > tileRetention + 0.3,
      s"CDC retention $cdcRetention must dominate fixed-tile $tileRetention")
  }

  test("q130 BM25: driver-side recompute agrees on the top-10; scores " +
    "positive; tf saturation bounded by (k1+1)*idf") {
    import spark.implicits._
    val got = TextAnalysis.q130Bm25(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(got.length == 10 && got.forall(_._2 > 0.0))
    // independent recompute from the raw text
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val q = TextAnalysis.Bm25Query.toSet
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n
    val dfm = q.map(t => t -> docs.count(_._2.contains(t)).toDouble).toMap
    val scores = docs.map { case (id, toks) =>
      val dl = toks.length.toDouble
      val s = q.toSeq.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5)) *
          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.sum
      id -> s
    }.filter(_._2 > 0)
    val want = scores.sortBy { case (id, s) =>
      (-BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP), id)
    }.take(10)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
      s"top-10 ids diverge: got ${got.map(_._1).toSeq} want ${want.map(_._1).toSeq}")
    got.zip(want).foreach { case ((_, gs), (_, ws)) =>
      assert(math.abs(gs - ws) < 1e-6, s"score $gs vs recompute $ws")
    }
    // saturation ceiling: per-term score < idf * (k1+1), so the total
    // is bounded by sum of idf ceilings
    val ceiling = q.toSeq.map(t =>
      math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5)) * 2.2).sum
    assert(got.forall(_._2 <= ceiling + 1e-9))
  }

  test("q132 A-ES weighted sample: driver recompute agrees; exact size; " +
    "weighting biases the sample toward long documents") {
    import spark.implicits._
    val got = Pipeline.q132WeightedSample(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_chars"),
        r.getAs[Double]("key")))
    assert(got.length == 50 && got.map(_._1).distinct.length == 50)
    // keys are ln(u)/w with u in (0,1]: strictly negative unless u=1
    assert(got.forall(_._3 <= 0.0))
    // independent recompute of the deterministic draw
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars",
        conv(substring(md5($"doc_id".cast("string")), 1, 13), 16, 10)
          .cast("long").as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keys = docs.map { case (id, nc, h) =>
      val u = (h + 1L).toDouble / 4503599627370496.0
      (id, BigDecimal(math.log(u) / nc.toDouble)
        .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val want = keys.sortBy { case (id, k) => (-k, id) }.take(50).map(_._1)
    assert(got.map(_._1).toSeq == want.toSeq)
    // the bias law: expected key grows with weight, so the weighted
    // sample's mean length must exceed the corpus mean
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    val sampleMean = got.map(_._2).sum.toDouble / got.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean must exceed corpus mean $corpusMean")
  }

  test("q137 discord: driver-side matrix-profile recompute agrees, and " +
    "a planted wild day is the top discord of a synthetic series") {
    import spark.implicits._
    import graft.operators.Anomaly
    // driver recompute over the fixture
    val got = Anomaly.q137Discord(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 3)
    val hourly = graft.core.Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("hi"))
      .agg(sum(round($"value" * 100).cast("long")).as("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mn = hourly.keys.min; val mx = hourly.keys.max
    val sv = (mn to mx).map(h => hourly.getOrElse(h, 0L)).toArray
    val W = 24
    val scores = (0 to sv.length - W).map { sIdx =>
      val d = (0 to sv.length - W).iterator
        .filter(t => math.abs(t - sIdx) >= W)
        .map(t => (0 until W).map(k =>
          (sv(sIdx + k) - sv(t + k)) * (sv(sIdx + k) - sv(t + k))).sum)
        .min
      (mn + sIdx, d)
    }
    val want = scores.sortBy { case (h, d) => (-d, h) }.take(3)
    assert(got.toSeq == want, s"got ${got.toSeq} want $want")
    // planted discord: 10 flat days, one wild day in the middle
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val synth = (0 until 240).flatMap { h =>
      val wild = h >= 96 && h < 120
      val v = if (wild) 500.0 + (h % 24) * 37.0 else 10.0
      Seq((new java.sql.Timestamp(base + h * 3600000L), v))
    }.toDF("ts", "value")
    val top = Anomaly.discordCensus(synth).collect()
    assert(top.nonEmpty)
    val topStart = top.head.getLong(0)
    val wildStart = (base / 3600000L) + 96
    assert(topStart == wildStart,
      s"top discord $topStart must be the planted wild day $wildStart")
  }

  test("q140 CUSUM: driver recompute of the max(0, ...) recurrence agrees " +
    "with the closed-form census, and a planted level shift puts the " +
    "peak at the shift era's end") {
    import spark.implicits._
    import graft.operators.Anomaly
    // driver recompute over the fixture: the SEQUENTIAL recurrence
    // (not the closed form) — agreeing proves the prefix-min identity
    val hourly = graft.core.Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("hi"))
      .agg(sum(round($"value" * 100).cast("long")).as("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mn = hourly.keys.min; val mx = hourly.keys.max
    val sv = (mn to mx).map(h => hourly.getOrElse(h, 0L)).toArray
    val n = sv.length.toLong; val sx = sv.sum
    var c = 0L
    val cus = sv.map { x => c = math.max(0L, c + (n * x - sx)); c }
    val want = cus.zipWithIndex
      .map { case (v, i) => (mn + i, v) }
      .sortBy { case (h, v) => (-v, h) }.take(5).toSeq
    val got = Anomaly.q140Cusum(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"got $got want $want")
    // planted level shift: flat at 10, hours 100-149 elevated to 30 —
    // accumulated drift peaks exactly at the shift era's last hour
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val synth = (0 until 240).map { h =>
      val v = if (h >= 100 && h < 150) 30.0 else 10.0
      (new java.sql.Timestamp(base + h * 3600000L), v)
    }.toDF("ts", "value")
    val top = Anomaly.cusumCensus(synth).collect()
    assert(top.head.getLong(0) == (base / 3600000L) + 149,
      s"CUSUM peak ${top.head.getLong(0)} must be the shift-era end")
  }

  test("q141 episodes: driver gaps-and-islands recompute agrees, and a " +
    "planted sustained elevation is the top episode with exact excess") {
    import spark.implicits._
    import graft.operators.Anomaly
    val hourly = graft.core.Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("hi"))
      .agg(sum(round($"value" * 100).cast("long")).as("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mn = hourly.keys.min; val mx = hourly.keys.max
    val sv = (mn to mx).map(h => hourly.getOrElse(h, 0L)).toArray
    val n = sv.length.toLong; val sx = sv.sum
    // driver islands: scan for maximal runs of n*x > sx
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var i = 0
    while (i < sv.length) {
      if (n * sv(i) > sx) {
        val start = i; var excess = 0L
        while (i < sv.length && n * sv(i) > sx) {
          excess += n * sv(i) - sx; i += 1
        }
        runs += ((mn + start, (i - start).toLong, excess))
      } else i += 1
    }
    val want = runs.sortBy { case (h, len, _) => (-len, h) }.take(5).toSeq
    val got = Anomaly.q141Episodes(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"got $got want $want")
    // planted: two elevated runs, 12 h and 36 h — the 36 h run ranks
    // first, and both excess masses are the exact planted arithmetic
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val synth = (0 until 240).map { h =>
      val v = if (h >= 40 && h < 52) 50.0
              else if (h >= 150 && h < 186) 50.0 else 10.0
      (new java.sql.Timestamp(base + h * 3600000L), v)
    }.toDF("ts", "value")
    val top = Anomaly.episodeCensus(synth).collect()
    assert(top.length == 2)
    assert(top(0).getLong(0) == (base / 3600000L) + 150 &&
      top(0).getLong(1) == 36L)
    assert(top(1).getLong(0) == (base / 3600000L) + 40 &&
      top(1).getLong(1) == 12L)
    // exact excess: mean = (192*1000 + 48*5000)/240 cents·n arithmetic
    val n2 = 240L; val sx2 = 192L * 1000L + 48L * 5000L
    assert(top(0).getLong(2) == 36L * (n2 * 5000L - sx2))
    assert(top(1).getLong(2) == 12L * (n2 * 5000L - sx2))
  }

  test("q142 Holt–Winters: driver recompute of the fixed-point recurrence " +
    "agrees with the in-row fold, and a planted spike on a periodic " +
    "series is the top residual") {
    import spark.implicits._
    import graft.operators.Anomaly
    // driver recompute over the fixture: the same integer recurrence,
    // floor-halving via arithmetic shift (Long >> 1 == floor(a/2))
    val hourly = graft.core.Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("hi"))
      .agg(sum(round($"value" * 100).cast("long")).as("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mn = hourly.keys.min; val mx = hourly.keys.max
    val sv = (mn to mx).map(h => hourly.getOrElse(h, 0L)).toArray
    assert(sv.length >= 48, "fixture must span at least two days")
    val w24 = sv.take(24).sum
    val l0 = (w24 - (((w24 % 24) + 24) % 24)) / 24
    var l = l0; var b = 0L
    val ss = scala.collection.mutable.Queue(sv.take(24).map(_ - l0): _*)
    val rs = (24 until sv.length).map { t =>
      val sh = ss.dequeue(); val x = sv(t)
      val r = x - (l + b + sh)
      val ln = (x - sh + l + b) >> 1
      val bn = (ln - l + b) >> 1
      val sn = (x - ln + sh) >> 1
      ss.enqueue(sn); l = ln; b = bn
      (mn + t, r)
    }
    val want = rs.sortBy { case (h, r) => (-math.abs(r), h) }.take(5).toSeq
    val got = Anomaly.q142HoltWinters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"got $got want $want")
    // planted: a perfectly daily-periodic series the model locks onto
    // (residuals shrink to floor-rounding cents), then one wild hour —
    // the forecast reading flags exactly that hour, not its neighbors
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val synth = (0 until 240).map { h =>
      val v = if (h == 170) 500.0 else 10.0 + (h % 24)
      (new java.sql.Timestamp(base + h * 3600000L), v)
    }.toDF("ts", "value")
    val top = Anomaly.holtWintersCensus(synth).collect()
    assert(top.head.getLong(0) == (base / 3600000L) + 170,
      s"top residual ${top.head.getLong(0)} must be the planted spike hour")
    assert(top.head.getLong(1) > 40000L,
      s"spike residual ${top.head.getLong(1)} must be ~the planted mass")
  }

  test("q145 forecast: driver terminal-state projection agrees on the " +
    "real series, and a periodic series forecasts its own next day " +
    "to within floor-rounding cents") {
    import spark.implicits._
    import graft.operators.Anomaly
    // driver recompute: run the recurrence to the end, project 24 ahead
    val hourly = graft.core.Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("hi"))
      .agg(sum(round($"value" * 100).cast("long")).as("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mn = hourly.keys.min; val mx = hourly.keys.max
    val sv = (mn to mx).map(h => hourly.getOrElse(h, 0L)).toArray
    val w24 = sv.take(24).sum
    val l0 = (w24 - (((w24 % 24) + 24) % 24)) / 24
    var l = l0; var b = 0L
    val ss = scala.collection.mutable.Queue(sv.take(24).map(_ - l0): _*)
    (24 until sv.length).foreach { t =>
      val sh = ss.dequeue(); val x = sv(t)
      val ln = (x - sh + l + b) >> 1
      val bn = (ln - l + b) >> 1
      val sn = (x - ln + sh) >> 1
      ss.enqueue(sn); l = ln; b = bn
    }
    val sArr = ss.toArray
    val want = (1 to 24).map(h =>
      (mx + h, l + h * b + sArr(h - 1))).toSeq
    val got = Anomaly.q145HoltForecast(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"got $got want $want")
    // a perfectly periodic series: the forecast for tomorrow is
    // (approximately) the daily pattern itself — floor-halving leaves
    // only cents-scale bias, bounded well inside one pattern step
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val synth = (0 until 240).map { h =>
      (new java.sql.Timestamp(base + h * 3600000L), 10.0 + (h % 24))
    }.toDF("ts", "value")
    val fc = Anomaly.holtForecast(synth).collect()
    assert(fc.length == 24)
    fc.foreach { r =>
      val slot = ((r.getLong(0) % 24) + 24) % 24
      val expected = (10.0 + slot) * 100.0
      assert(math.abs(r.getLong(1) - expected) <= 50.0,
        s"hour ${r.getLong(0)} forecast ${r.getLong(1)} should be near " +
          s"the periodic value $expected")
    }
  }

  test("q146 backtest: driver SSE recompute agrees on real data, and " +
    "Holt–Winters wins on a trending periodic series where both " +
    "baselines structurally fail") {
    import spark.implicits._
    import graft.operators.Anomaly
    val hourly = graft.core.Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("hi"))
      .agg(sum(round($"value" * 100).cast("long")).as("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mn = hourly.keys.min; val mx = hourly.keys.max
    val sv = (mn to mx).map(h => hourly.getOrElse(h, 0L)).toArray
    val w24 = sv.take(24).sum
    val l0 = (w24 - (((w24 % 24) + 24) % 24)) / 24
    var l = l0; var b = 0L; var sseHw = 0L
    val ss = scala.collection.mutable.Queue(sv.take(24).map(_ - l0): _*)
    (24 until sv.length).foreach { t =>
      val sh = ss.dequeue(); val x = sv(t)
      val r = x - (l + b + sh); sseHw += r * r
      val ln = (x - sh + l + b) >> 1
      val bn = (ln - l + b) >> 1
      val sn = (x - ln + sh) >> 1
      ss.enqueue(sn); l = ln; b = bn
    }
    val sseSn = (24 until sv.length)
      .map(t => (sv(t) - sv(t - 24)) * (sv(t) - sv(t - 24))).sum
    val sseN = (24 until sv.length)
      .map(t => (sv(t) - sv(t - 1)) * (sv(t) - sv(t - 1))).sum
    val got = Anomaly.q146Backtest(spark, sfDir).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      == ((sv.length - 24L, sseHw, sseSn, sseN)),
      s"SSEs diverge: $got vs ($sseHw, $sseSn, $sseN)")
    // trending + periodic: seasonal-naive misses the trend every hour,
    // naive misses every pattern step — only the model tracking BOTH
    // components wins. The census must say so.
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val synth = (0 until 240).map { h =>
      (new java.sql.Timestamp(base + h * 3600000L),
        100.0 + (h % 24) * 3.0 + h * 0.5)
    }.toDF("ts", "value")
    val win = Anomaly.backtestCensus(synth).collect().head
    assert(win.getString(4) == "holt_winters",
      s"HW must win the trending periodic backtest, got $win")
  }

  test("q147 PQ-ADC: on a codeword-exact corpus the codebooks recover " +
    "the patterns, encoding is lossless, and ADC equals true distance") {
    import spark.implicits._
    import graft.operators.Similarity
    // 16 distinct dyadic-quarter patterns per subspace; vectors 1..16
    // ARE the seed patterns, so Lloyd's update reproduces them exactly
    // (means of identical dyadic values are exact), quantization error
    // is zero, and ADC(x) = sum_m d2(q_m, pattern(x_m)) = d2(q, x)
    val rng = new scala.util.Random(7)
    val patterns = Array.fill(4, 16, 16)((rng.nextInt(17) - 8) / 4.0)
    def buildVec(picks: Array[Int]): Array[Float] =
      (0 until 4).flatMap(m => patterns(m)(picks(m)).map(_.toFloat)).toArray
    val qPicks = Array(3, 7, 1, 12)
    val seedRows = (1 to 16).map(i =>
      (i.toLong, buildVec(Array(i - 1, i - 1, i - 1, i - 1))))
    val otherPicks = (17L to 200L).map(i =>
      i -> Array.fill(4)(rng.nextInt(16))).toMap
    val rows = Seq((0L, buildVec(qPicks))) ++ seedRows ++
      otherPicks.toSeq.sortBy(_._1).map { case (i, p) => (i, buildVec(p)) }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.pqAdc(df).collect()
    assert(got.length == 10)
    val q64 = buildVec(qPicks).map(_.toDouble)
    got.foreach { r =>
      val id = r.getLong(0)
      val picks = if (id <= 16) Array.fill(4)(id.toInt - 1)
        else otherPicks(id)
      // lossless encoding: the code names exactly the chosen patterns
      assert(r.getString(1) == picks.map(_ + 1).mkString("-"),
        s"vec $id code ${r.getString(1)} != planted ${picks.mkString("-")}")
      // ADC == true squared distance (all-dyadic arithmetic — exact)
      val x = buildVec(picks).map(_.toDouble)
      val d2 = q64.zip(x).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(r.getDouble(2) == BigDecimal(d2).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"vec $id adc ${r.getDouble(2)} != true d2 $d2")
    }
  }

  test("q153 residual CUSUM: driver recompute agrees, and a slow leak " +
    "an order of magnitude below the seasonal amplitude is found at " +
    "or after its onset") {
    import spark.implicits._
    import graft.operators.Anomaly
    val hourly = graft.core.Tables.events(spark, sfDir)
      .groupBy(expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
        .as("hi"))
      .agg(sum(round($"value" * 100).cast("long")).as("x"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mn = hourly.keys.min; val mx = hourly.keys.max
    val sv = (mn to mx).map(h => hourly.getOrElse(h, 0L)).toArray
    val w24 = sv.take(24).sum
    val l0 = (w24 - (((w24 % 24) + 24) % 24)) / 24
    var l = l0; var b = 0L
    val ss = scala.collection.mutable.Queue(sv.take(24).map(_ - l0): _*)
    var pf = 0L; var mnp = 0L
    val want = (24 until sv.length).map { t =>
      val sh = ss.dequeue(); val x = sv(t)
      val r = x - (l + b + sh)
      val ln = (x - sh + l + b) >> 1
      val bn = (ln - l + b) >> 1
      val sn = (x - ln + sh) >> 1
      ss.enqueue(sn); l = ln; b = bn
      pf += r; mnp = math.min(mnp, pf)
      (mn + t, pf - math.min(0L, mnp))
    }.sortBy { case (h, c) => (-c, h) }.take(5).toSeq
    val got = Anomaly.q153ResidualCusum(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"got $got want $want")
    // planted: ±20-amplitude daily pattern, +3.0 sustained leak from
    // hour 150 — invisible to any raw threshold, but the residual
    // CUSUM's peak accumulation sits at or after the onset
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val synth = (0 until 240).map { h =>
      val leak = if (h >= 150) 3.0 else 0.0
      (new java.sql.Timestamp(base + h * 3600000L),
        100.0 + 20.0 * math.sin(2 * math.Pi * (h % 24) / 24.0) + leak)
    }.toDF("ts", "value")
    val top = Anomaly.residualCusum(synth).collect()
    assert(top.head.getLong(0) >= (base / 3600000L) + 150,
      s"peak ${top.head.getLong(0)} must sit at or after the leak onset")
  }

  test("q154 ensemble: rows are exactly the grouped union of the four " +
    "detector censuses, ordered by corroboration") {
    import graft.operators.Anomaly
    val e = graft.core.Tables.events(spark, sfDir)
    val want = (
      Anomaly.cusumCensus(e).collect().map(_.getLong(0) -> "cusum") ++
      Anomaly.episodeCensus(e).collect().map(_.getLong(0) -> "episode") ++
      Anomaly.holtWintersCensus(e).collect()
        .map(_.getLong(0) -> "holt_residual") ++
      Anomaly.residualCusum(e).collect()
        .map(_.getLong(0) -> "residual_cusum"))
      .groupBy(_._1).map { case (h, ds) =>
        (h, ds.length.toLong, ds.map(_._2).sorted.mkString(",")) }
      .toSeq.sortBy { case (h, n, _) => (-n, h) }
    val got = Anomaly.q154DetectorEnsemble(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == want, s"got $got\nwant $want")
    assert(got.exists(_._2 >= 1) && got.map(_._1).distinct.size == got.size)
  }

  test("q148 per-type Holt–Winters: driver per-series recompute agrees " +
    "for every event type") {
    import spark.implicits._
    import graft.operators.Anomaly
    val rows = graft.core.Tables.events(spark, sfDir)
      .groupBy($"event_type",
        expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("hi"))
      .agg(sum(round($"value" * 100).cast("long")).as("x"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (et, hs) =>
        val m = hs.map(t => t._2 -> t._3).toMap
        val mn = m.keys.min; val mx = m.keys.max
        val sv = (mn to mx).map(h => m.getOrElse(h, 0L)).toArray
        if (sv.length < 48) None else {
          val w24 = sv.take(24).sum
          val l0 = (w24 - (((w24 % 24) + 24) % 24)) / 24
          var l = l0; var b = 0L
          val ss = scala.collection.mutable.Queue(
            sv.take(24).map(_ - l0): _*)
          val rs = (24 until sv.length).map { t =>
            val sh = ss.dequeue(); val x = sv(t)
            val r = x - (l + b + sh)
            val ln = (x - sh + l + b) >> 1
            val bn = (ln - l + b) >> 1
            val sn = (x - ln + sh) >> 1
            ss.enqueue(sn); l = ln; b = bn
            (mn + t, r)
          }
          val top = rs.minBy { case (h, r) => (-math.abs(r), h) }
          Some((et, top._1, top._2))
        }
    }
    val got = Anomaly.q148HoltByType(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"got $got want $want")
    assert(got.map(_._1).distinct.size == got.size,
      "exactly one row per event type")
  }

  test("q151 PQ sweep: quantization error is monotone non-increasing in " +
    "the code budget, and the 4-byte point matches q147's quantizer") {
    import graft.operators.Similarity
    val rows = Similarity.q151PqSweep(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(rows.map(_._1) == Seq(2L, 4L, 8L))
    val errs = rows.map(_._2)
    assert(errs(0) >= errs(1) && errs(1) >= errs(2),
      s"more bytes must not quantize worse: $errs")
    assert(errs.forall(_ >= 0.0))
  }

  test("q149 IVF-PQ: results come only from the probed cells, match the " +
    "coarse index's assignments, and ADC is ascending") {
    import spark.implicits._
    val got = Similarity.q149AnnIvfPq(spark, sfDir).collect()
    assert(got.length == 10)
    // recompute the probe set from the same coarse trajectory the
    // query trains — composition consistency, not a re-oracle
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val (idx, cents) = Similarity.ivfLearned(emb, k = 8, iters = 2)
    val qv = emb.filter($"vec_id" === 0).select($"embedding")
      .collect().head.getSeq[Float](0).map(_.toDouble).toArray
    val probed = cents.collect().map { r =>
      val c = r.getSeq[Double](1).toArray
      val d2 = qv.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      (d2, r.getLong(0))
    }.sortBy(identity).take(3).map(_._2).toSet
    assert(got.forall(r => probed.contains(r.getLong(1))),
      s"every hit must come from a probed cell $probed")
    val cellOf = idx.select($"vec_id", $"cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach(r => assert(cellOf(r.getLong(0)) == r.getLong(1),
      s"vec ${r.getLong(0)} cell must match its index assignment"))
    val adcs = got.map(_.getDouble(3))
    assert(adcs.zip(adcs.tail).forall { case (a, b) => a <= b },
      "ADC distances must be ascending")
    assert(got.forall(_.getString(2).split("-").length == 4),
      "every code must be 4 subspace ids")
  }

  test("q143 triangles: driver brute-force recount agrees on the real " +
    "citation graph; K4 closes fully, a star closes nothing") {
    import spark.implicits._
    import graft.operators.Pipeline
    // brute-force recount over the sfDir citation graph via adjacency
    // sets — validates the degree-ordered orientation end to end
    val ids = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id").collect().map(_.getLong(0))
    val edges = (ids.filter(_ >= 2).map(i => (math.min(i, i / 2), math.max(i, i / 2))) ++
      ids.filter(_ >= 4).map(i => (math.min(i, i / 4), math.max(i, i / 4))))
      .filter { case (a, b) => a != b }.distinct
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val triPer = scala.collection.mutable.Map.empty[Long, Long]
    for ((a, b) <- edges; c <- adj(a) if c > b && adj(b).contains(c)) {
      for (v <- Seq(a, b, c)) triPer(v) = triPer.getOrElse(v, 0L) + 1L
    }
    val got = Pipeline.triangleNodes(edges.toSeq.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == triPer.toMap, s"per-node counts diverge: got ${got.size} " +
      s"nodes want ${triPer.size}")
    // K4: every node spans C(3,2)=3 triangles and closes completely
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("a", "b")
    val k4got = Pipeline.triangleNodes(k4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(k4got == Seq((1L, 3L, 3L), (2L, 3L, 3L), (3L, 3L, 3L), (4L, 3L, 3L)))
    // star: high degree, zero closure — the spam shape the signal exists
    // to separate
    val star = (1L to 5L).map(i => (0L, i)).toDF("a", "b")
    assert(Pipeline.triangleNodes(star).isEmpty)
  }

  test("ivfWrite: the partitionBy(cell) serving layout prunes a probe " +
    "to the probed cells' files, content round-trips") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val (idx, _) = Similarity.ivfLearned(emb, k = 8, iters = 2)
    val tmp = java.nio.file.Files.createTempDirectory("ivfidx").toString
    FullIvf.write(idx, tmp)
    val cellsOnDisk = new java.io.File(tmp).listFiles
      .count(_.getName.startsWith("cell="))
    assert(cellsOnDisk >= 4, s"expected several cell dirs, got $cellsOnDisk")
    val probe = Seq(1L, 2L, 3L)
    val probed = FullIvf.read(spark, tmp)
      .filter(col("cell").isin(probe: _*))
    // pruning reaches the scan logically...
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan.take(1500))
    // ...and physically: the executed scan's numFiles metric equals
    // the file count under the PROBED cell dirs alone (inputFiles
    // would lie here — it lists the relation's files pre-pruning)
    probed.collect()
    val scan = probed.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    val filesInProbedDirs = new java.io.File(tmp).listFiles
      .filter(d => probe.exists(c => d.getName == s"cell=$c"))
      .map(_.listFiles.count(_.getName.endsWith(".parquet"))).sum
    val filesTotal = new java.io.File(tmp).listFiles
      .filter(_.getName.startsWith("cell="))
      .map(_.listFiles.count(_.getName.endsWith(".parquet"))).sum
    assert(scan.metrics("numFiles").value == filesInProbedDirs.toLong,
      s"scan read ${scan.metrics("numFiles").value} files, probed dirs " +
        s"hold $filesInProbedDirs (of $filesTotal total)")
    assert(filesTotal > filesInProbedDirs, "pruning must exclude something")
    // content parity with the in-memory index restriction
    val a = probed.select("vec_id").collect().map(_.getLong(0)).sorted
    val b = idx.filter(col("cell").isin(probe: _*))
      .select("vec_id").collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b))
  }

  test("ivfDelete: tombstones hide rows from the live read without " +
    "touching base files; probe pruning survives; compaction folds " +
    "them in physically") {
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val (idx, _) = Similarity.ivfLearned(emb, k = 8, iters = 2)
    val tmp = java.nio.file.Files.createTempDirectory("ivfdel").toString
    FullIvf.write(idx, tmp)
    val all = idx.select("vec_id").collect().map(_.getLong(0)).toSet
    val dead = all.filter(_ % 7 == 3)
    assert(dead.nonEmpty && dead.size < all.size)
    import spark.implicits._
    Similarity.ivfDelete(dead.toSeq.toDF("vec_id"), tmp)
    // base read is untouched (the _ prefix hides the tombstone dir)
    val baseIds = FullIvf.read(spark, tmp)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(baseIds == all, "ivfRead of the base layout must not change")
    // live read = all minus tombstones
    val liveIds = FullIvf.readLive(spark, tmp)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(liveIds == (all -- dead),
      s"live read must exclude exactly the tombstoned ids")
    // probe parity after delete: probed-cell content equals the
    // in-memory index restriction minus the dead set...
    val probe = Seq(1L, 2L, 3L)
    val probed = FullIvf.readLive(spark, tmp)
      .filter(col("cell").isin(probe: _*))
    probed.collect()
    val a = probed.select("vec_id").collect().map(_.getLong(0)).sorted
    val b = idx.filter(col("cell").isin(probe: _*))
      .select("vec_id").collect().map(_.getLong(0))
      .filterNot(dead.contains).sorted
    assert(a.sameElements(b), "probe after delete must equal " +
      "assignment-minus-tombstones in the probed cells")
    // ...and the anti-join did not break physical partition pruning.
    // The join pulls the plan under AQE, which hides scans inside
    // query stages — descend through them explicitly.
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    val scan = allScans(probed.queryExecution.executedPlan).find(f =>
      f.relation.location.rootPaths.exists(_.toString.contains("ivfdel")) &&
        !f.relation.location.rootPaths.exists(
          _.toString.contains("_tombstones"))).get
    val filesInProbedDirs = new java.io.File(tmp).listFiles
      .filter(d => probe.exists(c => d.getName == s"cell=$c"))
      .map(_.listFiles.count(_.getName.endsWith(".parquet"))).sum
    assert(scan.metrics("numFiles").value == filesInProbedDirs.toLong,
      s"probe must still prune: read ${scan.metrics("numFiles").value} " +
        s"files, probed dirs hold $filesInProbedDirs")
    // compaction physically drops the dead rows and the tombstone dir
    val dest = java.nio.file.Files.createTempDirectory("ivfcomp").toString
    FullIvf.compact(spark, tmp, dest)
    val compIds = FullIvf.read(spark, dest)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(compIds == (all -- dead))
    assert(!new java.io.File(s"$dest/_tombstones").exists())
    // idempotent serving: live read of the compacted root is identical
    val compLive = FullIvf.readLive(spark, dest)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(compLive == compIds)
  }

  test("bm25 serving layout: the probe physically prunes to the query " +
    "terms' buckets, and its answer equals scan-time q130 row for row") {
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val docs = graft.core.Tables.documents(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("bm25l").toString
    TextAnalysis.bm25IndexWrite(docs, tmp)
    val bucketsOnDisk = new java.io.File(tmp).listFiles
      .count(_.getName.startsWith("tb="))
    assert(bucketsOnDisk >= 8, s"expected many bucket dirs, got $bucketsOnDisk")
    val probe = TextAnalysis.bm25Probe(spark, tmp, TextAnalysis.Bm25Query)
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    // physical pruning: the postings scan's numFiles equals the file
    // count under the PROBED buckets alone (the ivfWrite discipline)
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    // r13: the probe lazily checkpoints the live postings (one pruned
    // scan for df/idf AND scoring), so the executed probe plan reads
    // the checkpoint, not files — assert the pruning on the exact
    // pruned-read shape the probe materializes, and assert the probe
    // plan itself carries NO file scan of the layout (the checkpoint
    // reuse is the point)
    assert(allScans(probe.queryExecution.executedPlan).forall(f =>
      !f.relation.location.rootPaths.exists(p =>
        p.toString.contains("bm25l") && !p.toString.contains("_stats"))),
      "probe must read postings via the checkpoint, not a second scan")
    val tbs = spark.range(1).select(TextAnalysis.Bm25Query.map(t =>
      pmod(xxhash64(lit(t)), lit(64L)).as(t)): _*)
      .head().toSeq.map(_.asInstanceOf[Long]).distinct
    import org.apache.spark.sql.functions.col
    val prunedRead = spark.read.parquet(tmp)
      .filter(col("tb").isin(tbs: _*) &&
        col("tok").isin(TextAnalysis.Bm25Query: _*))
    prunedRead.collect()
    val scan = allScans(prunedRead.queryExecution.executedPlan).find(f =>
      f.relation.location.rootPaths.exists(_.toString.contains("bm25l")))
      .get
    val filesInProbed = new java.io.File(tmp).listFiles
      .filter(d => tbs.exists(x => d.getName == s"tb=$x"))
      .map(_.listFiles.count(_.getName.endsWith(".parquet"))).sum
    val filesTotal = new java.io.File(tmp).listFiles
      .filter(_.getName.startsWith("tb="))
      .map(_.listFiles.count(_.getName.endsWith(".parquet"))).sum
    assert(scan.metrics("numFiles").value == filesInProbed.toLong,
      s"probe read ${scan.metrics("numFiles").value} files, probed " +
        s"buckets hold $filesInProbed (of $filesTotal)")
    assert(filesTotal > filesInProbed, "pruning must exclude buckets")
    // row-for-row parity with scan-time scoring
    val expect = TextAnalysis.q130Bm25(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4))).toSeq
    assert(got == expect, "layout probe must equal scan-time q130")
  }

  test("ivfProbeStored: the probe-only serving path answers exactly " +
    "q128's in-query build+probe, reads only the probed cells' files, " +
    "and honors tombstones") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ivfsrv").toString
    FullIvf.build(spark, sfDir, root)
    val probe = FullIvf.probe(spark, root,
      excludeVecId = Some(0L))
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expect = Similarity.q128AnnIvfLearned(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expect, "stored probe must equal in-query q128")
    // pruning evidence off the executed plan (the ServingBench metric)
    val (filesRead, bytesRead) = ServingBench.scanStats(probe, "ivfsrv")
    val (filesTotal, bytesTotal) = ServingBench.layoutTotals(s"$root/index")
    assert(filesRead > 0 && filesRead < filesTotal,
      s"probe must read a strict subset: $filesRead of $filesTotal")
    assert(bytesRead < bytesTotal)
    // the stored BATCH probe answers exactly the in-query q165
    val gotBatch = Similarity.ivfProbeStoredBatch(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val expectBatch = Similarity.q165AnnBatchProbe(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(gotBatch == expectBatch,
      "stored batch probe must equal in-query q165")
    // tombstoning the top hit removes it from the served answer
    val topId = got.head._1
    Similarity.ivfDelete(Seq(topId).toDF("vec_id"), s"$root/index")
    val afterDelete = FullIvf.probe(spark, root,
      excludeVecId = Some(0L)).collect().map(_.getLong(0)).toSeq
    assert(!afterDelete.contains(topId))
    spark.catalog.clearCache()
  }

  test("bm25 maintenance: append touches only new files, delete is " +
    "idempotent with exact stats deltas, compact folds tombstones and " +
    "probes identically to the live view") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sfDir)
      .localCheckpoint(false)
    val tmp = java.nio.file.Files.createTempDirectory("bm25m").toString
    val base = docs.filter($"doc_id" % 2 === 0)
    val delta = docs.filter($"doc_id" % 2 =!= 0)
    TextAnalysis.bm25IndexWrite(base, tmp)
    val filesBefore = new java.io.File(tmp).listFiles
      .filter(_.getName.startsWith("tb="))
      .flatMap(_.listFiles.filter(_.getName.endsWith(".parquet")))
      .map(_.getName).toSet
    TextAnalysis.bm25Append(delta, tmp)
    // append only ADDS files — no base file rewritten or removed
    val filesAfter = new java.io.File(tmp).listFiles
      .filter(_.getName.startsWith("tb="))
      .flatMap(_.listFiles.filter(_.getName.endsWith(".parquet")))
      .map(_.getName).toSet
    assert(filesBefore.subsetOf(filesAfter) &&
      filesAfter.size > filesBefore.size)
    // stats deltas sum to the full corpus exactly
    def stats() = spark.read.parquet(s"$tmp/_stats")
      .agg(fsum("nd"), fsum("tl")).head()
    val nDocs = docs.count()
    assert(stats().getLong(0) == nDocs)
    // delete: victims drop from the probe; repeating the SAME delete
    // appends no stats delta (idempotent — only live ids count)
    val dead = docs.filter($"doc_id" % 5 === 1).select($"doc_id")
    TextAnalysis.bm25Delete(dead, tmp)
    val ndAfterDelete = stats().getLong(0)
    assert(ndAfterDelete == nDocs - dead.count())
    TextAnalysis.bm25Delete(dead, tmp)
    assert(stats().getLong(0) == ndAfterDelete, "double delete must not " +
      "double-count stats")
    val liveProbe = TextAnalysis
      .bm25Probe(spark, tmp, TextAnalysis.Bm25Query).collect().toSeq
    assert(liveProbe.nonEmpty &&
      !liveProbe.map(_.getLong(0)).exists(_ % 5 == 1))
    // compact: fresh root, no tombstone dir, identical probe answer
    val dest = java.nio.file.Files.createTempDirectory("bm25c").toString
    TextAnalysis.bm25Compact(spark, tmp, dest)
    assert(!new java.io.File(s"$dest/_tombstones").exists())
    assert(spark.read.parquet(s"$dest/_stats").count() == 1)
    val compactProbe = TextAnalysis
      .bm25Probe(spark, dest, TextAnalysis.Bm25Query).collect().toSeq
    assert(compactProbe == liveProbe,
      "compacted layout must probe identically to the live view")
    // compacted postings rows == live rows (tombstoned docs physically gone)
    val liveRows = spark.read.parquet(tmp)
      .join(spark.read.parquet(s"$tmp/_tombstones").distinct(),
        Seq("doc_id"), "left_anti").count()
    assert(spark.read.parquet(dest).count() == liveRows)
    spark.catalog.clearCache()
  }

  test("bm25 maintenance property: 3 random append/delete interleavings " +
    "each probe identically to a rebuild from the resulting live set, " +
    "with exact stats") {
    import org.apache.spark.sql.functions.{sum => fsum}
    import spark.implicits._
    // q162 pins ONE lifecycle path (build, append, delete); this law
    // pins the general contract: ANY op sequence == rebuild-from-live
    val docs = graft.core.Tables.documents(spark, sfDir)
      .localCheckpoint(false)
    val ids = docs.select($"doc_id").as[Long].collect().sorted
    val rnd = new scala.util.Random(13)
    (1 to 3).foreach { trial =>
      val tmp = java.nio.file.Files
        .createTempDirectory(s"bm25prop$trial").toString
      // start from a random third of the corpus
      val baseSet = ids.filter(_ => rnd.nextInt(3) == 0).toSet
      var live = baseSet
      var pool = ids.filterNot(baseSet).toSet
      TextAnalysis.bm25IndexWrite(docs.filter($"doc_id".isin(
        baseSet.toSeq: _*)), tmp)
      (1 to 4).foreach { _ =>
        if (rnd.nextBoolean() && pool.nonEmpty) {
          val batch = pool.toSeq.sorted.filter(_ => rnd.nextBoolean()).toSet
          if (batch.nonEmpty) {
            TextAnalysis.bm25Append(
              docs.filter($"doc_id".isin(batch.toSeq: _*)), tmp)
            live ++= batch; pool --= batch
          }
        } else if (live.nonEmpty) {
          val dead = live.toSeq.sorted.filter(_ => rnd.nextInt(4) == 0)
          if (dead.nonEmpty) {
            TextAnalysis.bm25Delete(dead.toDF("doc_id"), tmp)
            live --= dead.toSet
          }
        }
      }
      val got = TextAnalysis
        .bm25Probe(spark, tmp, TextAnalysis.Bm25Query).collect().toSeq
      val rb = java.nio.file.Files
        .createTempDirectory(s"bm25propr$trial").toString
      TextAnalysis.bm25IndexWrite(docs.filter($"doc_id".isin(
        live.toSeq: _*)), rb)
      val expect = TextAnalysis
        .bm25Probe(spark, rb, TextAnalysis.Bm25Query).collect().toSeq
      assert(got == expect,
        s"trial $trial: maintained layout diverges from rebuild-from-live")
      val nd = spark.read.parquet(s"$tmp/_stats").agg(fsum("nd")).head()
        .getLong(0)
      assert(nd == live.size.toLong,
        s"trial $trial: stats nd=$nd != live=${live.size}")
    }
    spark.catalog.clearCache()
  }

  test("q136 IVF-SQ8: quantized probe recall vs full-precision probe " +
    "and exact brute force — the memory cut's measured accuracy price") {
    val exact = Similarity.q29BruteTopK(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val fullPrec = Similarity.q128AnnIvfLearned(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val quantized = Similarity.q136AnnIvfSq8(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    assert(quantized.size == 10)
    // int8 dequantization perturbs cosines by < 1% on unit-scale
    // vectors, so the quantized probe must agree with the
    // full-precision probe on at least 8 of 10 (the q109 spec's band,
    // composed through the IVF pruning) and keep at least half of the
    // exact answer (q128's recall floor)
    assert((quantized & fullPrec).size >= 8,
      s"SQ8 flipped too many: ${quantized & fullPrec}")
    assert((quantized & exact).size >= 5,
      s"quantized-IVF recall vs exact below floor: ${quantized & exact}")
  }

  test("q134 RRF fusion: fused set is drawn from the two component " +
    "top-10s, scores recompute from ranks, dual-system docs dominate " +
    "equal-rank singletons") {
    import spark.implicits._
    val fused = Similarity.q134RrfFusion(spark, sfDir).collect()
    assert(fused.length == 10)
    val bm = TextAnalysis.q130Bm25(spark, sfDir).collect()
      .map(_.getAs[Long]("doc_id")).zipWithIndex
      .map { case (d, i) => d -> (i + 1L) }.toMap
    val ann = Similarity.q29BruteTopK(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).zipWithIndex
      .map { case (d, i) => d -> (i + 1L) }.toMap
    fused.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      assert(bm.contains(d) || ann.contains(d),
        s"fused doc $d in neither component top-10")
      val want = BigDecimal(
        bm.get(d).map(rk => 1.0 / (60.0 + rk)).getOrElse(0.0) +
          ann.get(d).map(rk => 1.0 / (60.0 + rk)).getOrElse(0.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("rrf") - want) < 1e-9)
      assert(r.getAs[Long]("n_systems") ==
        (bm.contains(d) :: ann.contains(d) :: Nil).count(identity).toLong)
    }
    // any doc in BOTH lists beats any doc appearing in ONE list at an
    // equal-or-worse best rank (1/(60+r) + something > 1/(60+r))
    val both = fused.filter(_.getAs[Long]("n_systems") == 2L)
    val single = fused.filter(_.getAs[Long]("n_systems") == 1L)
    for (b <- both; s <- single) {
      val bBest = math.min(
        Option(b.getAs[Any]("bm25_rank")).map(_.toString.toLong).getOrElse(Long.MaxValue),
        Option(b.getAs[Any]("ann_rank")).map(_.toString.toLong).getOrElse(Long.MaxValue))
      val sBest = math.min(
        Option(s.getAs[Any]("bm25_rank")).map(_.toString.toLong).getOrElse(Long.MaxValue),
        Option(s.getAs[Any]("ann_rank")).map(_.toString.toLong).getOrElse(Long.MaxValue))
      if (bBest <= sBest)
        assert(b.getAs[Double]("rrf") > s.getAs[Double]("rrf"))
    }
  }

  test("q135 stratified sample: 20 per language with contiguous ranks, " +
    "and each stratum is the per-language restriction of the global " +
    "A-ES order") {
    import spark.implicits._
    val rows = Pipeline.q135StratifiedSample(spark, sfDir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("key")))
    val langs = graft.core.Tables.documents(spark, sfDir)
      .select($"lang").distinct().collect().map(_.getString(0)).toSet
    val byLang = rows.groupBy(_._1)
    assert(byLang.keySet == langs)
    // driver recompute of the full keyed order, restricted per lang
    val keyed = graft.core.Tables.documents(spark, sfDir)
      .select($"lang", $"doc_id", $"n_chars",
        conv(substring(md5($"doc_id".cast("string")), 1, 13), 16, 10)
          .cast("long").as("h"))
      .collect().map { r =>
        val u = (r.getLong(3) + 1L).toDouble / 4503599627370496.0
        (r.getString(0), r.getLong(1),
          BigDecimal(math.log(u) / r.getLong(2).toDouble)
            .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    byLang.foreach { case (lang, got) =>
      val sorted = got.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(1L to sorted.length))
      assert(sorted.length == math.min(20,
        keyed.count(_._1 == lang)))
      val want = keyed.filter(_._1 == lang)
        .sortBy { case (_, id, k) => (-k, id) }.take(20).map(_._2)
      assert(sorted.map(_._3).toSeq == want.toSeq,
        s"$lang stratum diverges from the global order restriction")
    }
  }

  // q104's CORRECTNESS row hash-checks every branch against DuckDB on
  // the synthesized family; this pins the contract on hand-picked
  // edges the family doesn't reach.
  test("canonicalizeUrl: known-answer edges") {
    import spark.implicits._
    val cases = Seq(
      // full variant soup collapses
      ("HTTPS://WWW.Ex.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
        "https://ex.com/a/b?a=1&b=2"),
      // bare host, no path/query/fragment -> root path
      ("https://ex.com", "https://ex.com/"),
      // non-default port PRESERVED (only :443 is default-stripped)
      ("https://ex.com:8443/x", "https://ex.com:8443/x"),
      // scheme distinction preserved (case-folded only)
      ("HTTP://ex.com/x", "http://ex.com/x"),
      // all params tracking -> query dropped entirely
      ("https://ex.com/x?utm_a=1&gclid=z&fbclid=q&ref=h", "https://ex.com/x"),
      // root slash is not a trailing slash
      ("https://ex.com/?id=1", "https://ex.com/?id=1"),
      // www only strips as a PREFIX label
      ("https://wwwx.ex.com/p", "https://wwwx.ex.com/p"))
    val got = cases.map(_._1).toDF("u")
      .select(Pipeline.canonicalizeUrl(col("u"))).as[String].collect()
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(g == want, s"expected $want got $g") }
    // idempotence: canonicalizing a canonical URL is identity
    val again = cases.map(_._2).toDF("u")
      .select(Pipeline.canonicalizeUrl(col("u"))).as[String].collect()
    assert(again.toSeq == cases.map(_._2))
  }

  // q109's CORRECTNESS row hash-checks the error census; these pin
  // what the census can't see: range, degenerate input, and that the
  // approximation still answers ANN queries.
  test("int8 quantization: codes in range, zero vector safe, " +
    "quantized top-10 preserves the exact answer") {
    import spark.implicits._
    import graft.core.Tables
    val q = Similarity.quantizeInt8(Tables.embeddings(spark, sfDir)).cache()
    // every code within int8 symmetric range
    assert(q.filter(col("maxcode") > 127).count() == 0)
    // a zero vector must produce all-zero codes by definition, not a
    // division artifact
    val z = Similarity.quantizeInt8(
      Seq((999L, Array.fill(64)(0.0f), 0)).toDF("vec_id", "embedding", "label"))
      .head()
    assert(z.getAs[Seq[Long]]("code").forall(_ == 0L))
    assert(z.getAs[Double]("err") == 0.0)
    // ANN utility: cosine top-10 computed on DEQUANTIZED vectors
    // recovers at least 8 of the exact top-10 (4x memory for ~no
    // recall loss is the operator's whole pitch)
    val exact = Similarity.q29BruteTopK(spark, sfDir).collect()
      .map(_.getAs[Long]("vec_id")).toSet
    val qv = q.filter(col("vec_id") === 0).select(col("deq")).head().getSeq[Double](0)
    val approx = q.filter(col("vec_id") =!= 0)
      .withColumn("cos", Similarity.cosine(col("deq"),
        array(qv.map(lit): _*)))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(10)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert((approx & exact).size >= 8,
      s"quantized recall ${(approx & exact).size}/10")
    q.unpersist()
  }

  // q111's CORRECTNESS row hash-checks the census; this pins the
  // classifier on a hand diff.
  test("snapshotDiff: four statuses partition the key space") {
    import spark.implicits._
    val a = Seq((1L, "en", "x"), (2L, "en", "y"), (3L, "fr", "z"))
      .toDF("doc_id", "lang", "text")
    val b = Seq((2L, "en", "y"), (3L, "fr", "zz"), (4L, "de", "w"))
      .toDF("doc_id", "lang", "text")
    val d = Pipeline.snapshotDiff(a, b).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(d == Map(
      1L -> ("en", "removed"), 2L -> ("en", "unchanged"),
      3L -> ("fr", "modified"), 4L -> ("de", "added")))
  }

  // q108's CORRECTNESS row hash-checks the census; this pins the
  // per-block classifier on hand-picked edges.
  test("boilerplateBlocks: length floor, link-density cut, empty block") {
    import spark.implicits._
    val blocks = Seq(
      ("w w w w", false),                        // 4 words: under floor
      ("the cat sat on the mat today", true),    // long, link-free
      ("[a]x [a]y [a]z normal words here now", false), // 3/7 links > 0.3
      ("[a]one plus four regular words", true),  // 1/5 links = 0.2
      ("", false))                               // empty block
    val pages = Seq((1L, blocks.map(_._1).mkString("\n\n")))
      .toDF("doc_id", "page")
    val got = TextAnalysis.boilerplateBlocks(pages)
      .orderBy("block").collect().map(_.getAs[Boolean]("content"))
    assert(got.toSeq == blocks.map(_._2),
      s"per-block decisions: ${got.toSeq} vs ${blocks.map(_._2)}")
  }

  // q107's CORRECTNESS row proves the 3-merge trajectory matches
  // DuckDB on the corpus; these pin BPE's semantics on hand data.
  test("bpeMerges: hand-computed merges, non-overlapping application, " +
    "partition invariance") {
    import spark.implicits._
    // vocab: aa x2, ab x1 -> round 1 merges (a,a) count 2; after the
    // merge only (a,b) remains
    val docs = Seq("aa ab", "aa").toDF("text")
    val m = TextAnalysis.bpeMerges(docs, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((1L, "a", "a", 2L), (2L, "a", "b", 1L)), m.toSeq)
    // overlap: 'aaaa' has THREE adjacent (a,a) pairs (BPE counts
    // adjacency) but merging left-to-right non-overlapping yields
    // [aa, aa] — so round 2's top pair is (aa, aa), not (a, aa)
    val m2 = TextAnalysis.bpeMerges(Seq("aaaa").toDF("text"), 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m2.toSeq == Seq((1L, "a", "a", 3L), (2L, "aa", "aa", 1L)), m2.toSeq)
    // trajectory is deterministic under physical layout
    val docsBig = graft.core.Tables.documents(spark, sfDir)
    val t1 = TextAnalysis.bpeMerges(docsBig, 3).collect().toSeq
    val t2 = TextAnalysis.bpeMerges(docsBig.repartition(7), 3).collect().toSeq
    assert(t1.map(_.toSeq).toSet == t2.map(_.toSeq).toSet)
  }

  // q106's CORRECTNESS row proves the 2-round trajectory matches
  // DuckDB; these pin the operator's own invariants.
  test("pagerankFixed: known-answer chain, totality, base rank, " +
    "mass bound, partition invariance") {
    import spark.implicits._
    // hand graph: A(1)→B(2), B→C(3), C dangling
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r1 = Pipeline.pagerankFixed(nodes, edges, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // one round from uniform 1.0: in-less A = base 0.15; B and C each
    // receive one full rank (outdeg 1, snap exact at 2^20)
    assert(r1(1L) == 0.15000000000000002 || r1(1L) == 1.0 - 0.85)
    assert(r1(2L) == r1(3L) && math.abs(r1(2L) - 1.0) < 1e-12)
    // real corpus: every node ranked, base floor holds, dangling mass
    // only LEAKS (total <= N)
    val docs = graft.core.Tables.documents(spark, sfDir)
    val n = docs.count()
    val nodesAll = docs.select(col("doc_id").as("id"))
    val edgesAll = nodesAll.filter(col("id") >= 1L)
      .select(col("id").as("src"), expr("id div 2").as("dst"))
    val pr = Pipeline.pagerankFixed(nodesAll, edgesAll, iters = 3)
    assert(pr.count() == n)
    val base = 1.0 - 0.85
    assert(pr.filter(col("rank") < base - 1e-9).count() == 0)
    val total = pr.agg(sum(col("rank"))).head().getDouble(0)
    assert(total <= n + 1e-6, s"mass must not be created: $total > $n")
    // integer-snapped contributions make the trajectory partitioning-
    // invariant
    val pr2 = Pipeline.pagerankFixed(
      nodesAll.repartition(7), edgesAll.repartition(5), iters = 3)
    val m1 = pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val m2 = pr2.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m1 == m2)
    // deep run: lineage truncation must not change a single rank —
    // checkpointed every 2 rounds vs the pure nested-plan composition
    val deepCk = Pipeline.pagerankFixed(nodesAll, edgesAll, iters = 6,
      checkpointEvery = 2).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val deepNo = Pipeline.pagerankFixed(nodesAll, edgesAll, iters = 6,
      checkpointEvery = 100).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(deepCk == deepNo)
  }

  // q102's CORRECTNESS row proves the 2-round census matches DuckDB;
  // these pin the Lloyd invariants the census rides on.
  test("q102 seeded k-means: total assignment, monotone objective, partition invariance") {
    import graft.core.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val a1 = Similarity.kmeansFixed(emb, k = 8, iters = 1)
    val a2 = Similarity.kmeansFixed(emb, k = 8, iters = 2)
    // total: every vector assigned exactly once, to a seed cluster id
    assert(a2.count() == emb.count())
    val cls = a2.select("cl").distinct().collect().map(_.getLong(0)).toSet
    assert(cls.subsetOf((1L to 8L).toSet) && cls.nonEmpty)
    // Lloyd monotonicity: the mean is the L2 minimizer, so total
    // within-cluster squared distance cannot increase across a round
    // (the 2^-20 centroid snap perturbs below 1e-3 at this corpus)
    def obj(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(sum(col("d2"))).head().getDouble(0)
    val o1 = obj(a1); val o2 = obj(a2)
    assert(o2 <= o1 + 1e-3, s"objective must not increase: $o1 -> $o2")
    // exact integer centroid sums + bit-parity distances make the
    // whole trajectory partitioning-invariant: same assignments under
    // a different physical layout
    val rep = Similarity.kmeansFixed(emb.repartition(7), k = 8, iters = 2)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cl").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asMap(a2) == asMap(rep))
  }

  test("dot_product expression: bit-parity with the zip_with form, codegen'd") {
    import spark.implicits._
    import graft.functions.geo
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("id", "v")
    val both = df.select(
      geo.dot_product($"v", $"v").as("native"),
      aggregate(zip_with($"v", $"v", _ * _), lit(0.0), _ + _).as("declarative"))
    // bit-identical, not approximately equal: same left-to-right order
    assert(both.filter($"native" =!= $"declarative").count() == 0)
    // stays inside whole-stage codegen (parquet-backed scan: local
    // relations constant-fold into LocalTableScan and prove nothing)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .select(geo.dot_product(
        expr("cast(embedding as array<double>)"),
        expr("cast(embedding as array<double>)")))
    assert(emb.queryExecution.executedPlan.toString.contains("*(1)"))
    // null propagation matches zip_with: length mismatch and null elements
    geo.register(spark)
    val r = spark.sql(
      """SELECT dot_product(array(1.0d, 2.0d), array(3.0d)) AS mismatch,
        |  dot_product(array(1.0d, cast(null as double)), array(1.0d, 1.0d)) AS nullel,
        |  dot_product(cast(null as array<double>), array(1.0d)) AS nullarr""".stripMargin)
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    // float arrays implicit-cast like any builtin
    val f = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "fv")
      .select(geo.dot_product($"fv", $"fv")).head().getDouble(0)
    assert(f == 5.0)
  }

  test("embedding near-dup: finds planted duplicates, candidates bounded O(N)") {
    import spark.implicits._
    // planted corpus: vec 1 & 2 identical (cos 1.0), vec 3 the negation
    // (cos -1.0, must not link), plus deterministic noise vectors
    val rnd = new scala.util.Random(42)
    def noise() = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val base = Array.fill(64)(rnd.nextFloat() * 2 - 1)
    val rows = Seq(
      (1L, base), (2L, base.clone()), (3L, base.map(-_))) ++
      (4L to 200L).map(i => (i, noise()))
    val emb = rows.toDF("vec_id", "embedding")
    val links = Similarity.embeddingNearDup(emb).collect()
    assert(links.exists(r => r.getAs[Long]("i") == 1L &&
      r.getAs[Long]("j") == 2L && r.getAs[Double]("cos") == 1.0),
      "identical vectors must link to their bucket representative")
    assert(!links.exists(r => r.getAs[Long]("j") == 3L &&
      r.getAs[Long]("i") == 1L),
      "negated vector must not pass cos >= NearDupTau")
    // scale invariant: star links are <= bands x N by construction —
    // the O(N) bound that replaced the O(N^2/256) all-pairs form
    val n = emb.count()
    assert(Similarity.nearDupCandidates(emb).count() <= 3 * n)
    val embReal = graft.core.Tables.embeddings(spark, sfDir)
    assert(Similarity.nearDupCandidates(embReal).count() <= 3 * embReal.count())
    // growth regression: at 4N (replicated ids — every bucket saturated,
    // the worst case for a banding scheme) candidates stay ≤ bands×4N.
    // The all-pairs form this replaced would grow 16× here, not 4×.
    val nReal = embReal.count()
    val emb4 = (0 until 4).map(i => embReal.withColumn("vec_id",
      $"vec_id" + lit(i.toLong * 10000000L))).reduce(_ unionByName _)
    assert(Similarity.nearDupCandidates(emb4).count() <= 3 * 4 * nReal)
  }

  test("ivf index: partitionBy(cell) write prunes probed cells at the scan") {
    import graft.core.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val (index, _) = Similarity.ivfIndex(emb, k = 8)
    val out = java.nio.file.Files.createTempDirectory("ivf").toString
    index.selectExpr("vec_id", "cast(embedding as array<double>) as embedding",
      "cell").write.partitionBy("cell").mode("overwrite").parquet(out)
    val onDisk = spark.read.option("basePath", out).parquet(out)
    val probe = onDisk.filter(col("cell").isin(0, 1))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe must prune cell partitions:\n${plan.take(1500)}")
    // pruned probe reads exactly the probed cells' rows
    val expected = index.filter(col("cell").isin(0, 1)).count()
    assert(probe.count() == expected && expected > 0)
  }

  test("grid-cell ANN: partitioned index probe prunes to <=9 cells, matches q50") {
    import graft.core.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val index = emb.filter(col("vec_id") =!= 0)
      .withColumn("cell", Similarity.gridCell(col("embedding")))
    val out = java.nio.file.Files.createTempDirectory("grid").toString
    index.selectExpr("vec_id", "cast(embedding as array<double>) as embedding",
      "cell").write.partitionBy("cell").mode("overwrite").parquet(out)
    val onDisk = spark.read.option("basePath", out).parquet(out)
    val Array(qRow) = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"),
        Similarity.gridCell(col("embedding"))).collect()
    val (qv, qcell) = (qRow.getSeq[Double](0), qRow.getInt(1))
    val probe = Similarity.gridSearch(onDisk, qv, qcell, topK = 10)
    // the IN-list probe reaches the scan as a partition filter
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"grid probe must prune cell partitions:\n${plan.take(1500)}")
    assert(Similarity.gridProbeCells(qcell).size == 9)
    // serving path returns the same vectors the oracle-checked q50 does
    val got = probe.collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    val expected = Similarity.q50AnnGridCell(spark, sfDir).collect().map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    assert(got == expected)
  }

  test("q97 SemDeDup: census matches a driver-side recompute of the rule") {
    import graft.core.Tables
    import spark.implicits._
    val rows = Similarity.q97SemDedup(spark, sfDir).collect()
    // full census: every vector decided exactly once
    val emb = Tables.embeddings(spark, sfDir)
    assert(rows.length == emb.count())
    // exactly one representative (null cos_rep) per cell; it is the
    // min vec_id and always kept
    rows.groupBy(_.getAs[Int]("cell")).foreach { case (_, rs) =>
      val reps = rs.filter(_.isNullAt(2))
      assert(reps.length == 1, "one representative per cell")
      assert(reps.head.getAs[Boolean]("kept"), "representative is kept")
      assert(reps.head.getAs[Long]("vec_id") ==
        rs.map(_.getAs[Long]("vec_id")).min)
    }
    // the synthetic corpus must actually exercise the drop branch
    assert(rows.count(!_.getAs[Boolean]("kept")) > 0)
    // recompute keep/drop from raw vectors with plain sequential Scala
    // doubles (the same accumulation order the codegen'd dot uses);
    // the cell comes from the SHARED kernel (gridCellOf), which this
    // loop also proves bit-parities the Column form on every vector
    val vecsF = emb.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Float](1).toArray).toMap
    val vecs = vecsF.map { case (k, v) => k -> v.map(_.toDouble) }
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val repOf = vecs.keys.groupBy(id => Similarity.gridCellOf(vecsF(id)))
      .map { case (c, ids) => c -> ids.min }
    rows.foreach { r =>
      val (id, c) = (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"))
      assert(c == Similarity.gridCellOf(vecsF(id)),
        s"Column gridCell and Scala gridCellOf must agree on vec $id")
      val rep = repOf(c)
      val expectKept = id == rep || {
        val (a, b) = (vecs(id), vecs(rep))
        dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) < 0.25
      }
      assert(r.getAs[Boolean]("kept") == expectKept, s"vec $id")
    }
    // zero-norm embeddings have no defined cosine: KEPT with null
    // cos_rep — both when a member is degenerate and when the REP
    // itself is (every member then has an undefined cosine)
    val planted = Seq(
      (1L, Array.fill(64)(0.1f)), (2L, Array.fill(64)(0.0f)), // member zero
      (3L, Array.tabulate(64)(i => if (i == 0) -0.1f else 0.1f)), // rep of 254
      (5L, Array.tabulate(64)(i => if (i == 0) -0.2f else 0.2f))
    ).toDF("vec_id", "embedding")
    val pd = Similarity.semDedup(planted).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(pd(2L).getAs[Boolean]("kept") && pd(2L).isNullAt(2),
      "undefined cosine must keep the row with null cos_rep")
    val repZero = Seq(
      (1L, Array.fill(64)(0.0f)), // zero vector IS the min-id rep
      (2L, Array.fill(64)(0.1f)), (3L, Array.fill(64)(0.2f))
    ).toDF("vec_id", "embedding")
    val rz = Similarity.semDedup(repZero).collect()
    assert(rz.forall(_.getAs[Boolean]("kept")),
      "a zero-norm rep must not drop its whole cell")
  }

  test("q98 intra-doc dedup: planted repeats removed, first occurrence " +
    "kept, tail partial tile survives, corpus removal branch live") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "a b a b c d c d x"), // [a b][a b][c d][c d] + tail x
      (2L, "a b c d"),           // no repeats, no tail
      (3L, "z"),                 // shorter than one tile
      (4L, "a a a a a")          // [a a][a a] + tail a
    ).toDF("doc_id", "text")
    val out = Dedup.intraDocDedup(docs, w = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_tiles") == 4 &&
      out(1L).getAs[Long]("n_removed") == 2 &&
      out(1L).getAs[String]("clean_md5") == md5hex("a b c d x"))
    assert(out(2L).getAs[Long]("n_removed") == 0 &&
      out(2L).getAs[String]("clean_md5") == md5hex("a b c d"))
    assert(out(3L).getAs[Long]("n_tiles") == 0 &&
      out(3L).getAs[String]("clean_md5") == md5hex("z"))
    assert(out(4L).getAs[Long]("n_removed") == 1 &&
      out(4L).getAs[String]("clean_md5") == md5hex("a a a"))
    // the shipped query's removal branch is live on the real corpus,
    // and the census covers every document exactly once
    val corpus = Dedup.q98IntraDocDedup(spark, sfDir).collect()
    assert(corpus.length ==
      graft.core.Tables.documents(spark, sfDir).count())
    assert(corpus.map(_.getAs[Long]("n_removed")).sum > 0)
  }

  test("exact dedup groups: total docs preserved") {
    val rows = Dedup.q25Exact(spark, sfDir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val expected = graft.core.Tables.documents(spark, sfDir).count()
    assert(total == expected)
  }

  test("salted skew join: identical result set to the plain join") {
    import graft.core.Tables
    val orders = Tables.orders(spark, sfDir)
    val customer = Tables.customer(spark, sfDir)
    val plain = orders.join(customer,
      orders("o_custkey") === customer("c_custkey"))
      .select("o_orderkey", "c_custkey")
    val salted = graft.operators.SkewJoin
      .saltedJoin(orders, customer, "o_custkey", "c_custkey", nSalts = 8)
      .select("o_orderkey", "c_custkey")
    assert(plain.exceptAll(salted).count() == 0)
    assert(salted.exceptAll(plain).count() == 0)
  }

  test("approx_count_distinct (HLL) lands within its error bound") {
    import graft.core.Tables
    val li = Tables.lineitem(spark, sfDir)
    val exact = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"), 0.02))
      .head().getLong(0)
    val err = math.abs(approx - exact).toDouble / exact
    assert(err < 0.05, s"HLL err $err (exact=$exact approx=$approx)")
  }

  test("n-gram language profiles: learned profiles classify held-out text") {
    import spark.implicits._
    val train = Seq(
      ("en", "the quick brown fox jumps over the lazy dog and then the dog sleeps"),
      ("en", "she sells sea shells by the sea shore and the shells are sea shells"),
      ("de", "der schnelle braune fuchs springt über den faulen hund und schläft"),
      ("de", "die würde des menschen ist unantastbar und das ist gut so"),
      ("fr", "le renard brun rapide saute par dessus le chien paresseux"),
      ("fr", "la liberté consiste à pouvoir faire tout ce qui ne nuit pas"))
      .toDF("lang", "text")
    val profiles = TextAnalysis.langProfiles(train, topK = 120).cache()
    // profile table is domain-bounded: <= |langs| x topK rows
    assert(profiles.count() <= 3 * 120)
    val test = Seq(
      (1L, "the dog and the fox are lazy", "en"),
      (2L, "der hund und der fuchs schläft", "de"),
      (3L, "le chien et le renard paresseux", "fr"))
      .toDF("doc_id", "text", "expected")
    val pred = TextAnalysis.langIdNgram(test, profiles, topK = 120)
      .join(test, "doc_id")
    assert(pred.filter($"pred_lang" =!= $"expected").count() == 0,
      pred.collect().mkString("\n"))
    // deterministic under repartitioning
    val again = TextAnalysis.langIdNgram(test.repartition(7), profiles, 120)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == pred.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap)
  }

  test("language-id counts cover all documents") {
    val n = TextAnalysis.q23LangId(spark, sfDir).agg(sum("n")).head().getLong(0)
    assert(n == graft.core.Tables.documents(spark, sfDir).count())
  }

  test("typed Dataset path: groupByKey + Welford TypedColumn per event type") {
    import spark.implicits._
    import graft.ops.anomaly.{WelfordAggregator, WelfordStats}
    val ev = graft.core.Tables.events(spark, sfDir)
    val byType: Map[String, WelfordStats] = ev
      .select($"event_type", $"value").as[(String, Double)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(WelfordAggregator.stats)
      .collect().toMap
    assert(byType.nonEmpty)
    val ref = ev.groupBy($"event_type")
      .agg(avg($"value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    byType.foreach { case (k, st) =>
      assert(math.abs(st.mean - ref(k)) < 1e-9, s"mean mismatch for $k")
    }
  }

  test("csv and orc round-trip through the standard source surface") {
    val docs = graft.core.Tables.documents(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("fmt").toString
    docs.write.option("header", "true").mode("overwrite")
      .csv(s"$tmp/csv")
    docs.write.mode("overwrite").orc(s"$tmp/orc")
    val csvBack = spark.read.option("header", "true")
      .schema(docs.schema).csv(s"$tmp/csv")
    val orcBack = spark.read.orc(s"$tmp/orc")
    assert(csvBack.count() == docs.count())
    assert(orcBack.count() == docs.count())
    assert(orcBack.exceptAll(docs).count() == 0)
  }

  test("short documents (0/1/2 tokens): corpus filters apply " +
    "zero-repetition semantics instead of crashing") {
    import spark.implicits._
    // real-input edge the synthetic corpus lacks: sequence(1, 0) is the
    // DESCENDING [1, 0] in Spark, so unguarded n-gram builds throw
    // INVALID_INDEX_OF_ZERO on any document under 3 tokens
    val texts = Seq(
      (1L, ""), (2L, "hello"), (3L, "a b"), (4L, "x y z"),
      (5L, "the quick brown fox jumps over one lazy dog sentence here"))
    val docs = texts.map { case (id, t) => (id, t, "en", "synth", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("shortdocs").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rep = TextAnalysis.q52Repetition(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rep.size == 5, "every document gets a repetition row")
    // 1-token doc: the whole text is the top word; no bigram/trigram
    // population means ZERO repetition, not NULL/NaN/crash
    assert(rep(2L).getAs[Double]("top_word_frac") == 1.0)
    assert(rep(2L).getAs[Double]("top_bigram_frac") == 0.0)
    assert(rep(2L).getAs[Double]("dup_trigram_frac") == 0.0)
    assert(!rep(2L).getAs[Boolean]("keep"))
    // 2-token doc: exactly one bigram (frac 1.0), still no trigrams
    assert(rep(3L).getAs[Double]("top_bigram_frac") == 1.0)
    assert(rep(3L).getAs[Double]("dup_trigram_frac") == 0.0)
    // empty text tokenizes to [""] — same 1-token semantics
    assert(rep(1L).getAs[Long]("n_words") == 1L)
    // 3-token doc exercises the first populated-trigram row
    assert(rep(4L).getAs[Double]("dup_trigram_frac") == 0.0)
    // quality (q22) is defined for every document, short or not
    assert(TextAnalysis.q22Quality(spark, tmp).count() == 5)
    // winnowing (q42) emits rows ONLY for docs holding >= one 8-gram —
    // matching the oracle, which generates no gram rows for them
    val w = TextAnalysis.q42Winnow(spark, tmp).collect()
    assert(w.map(_.getAs[Long]("doc_id")).toSet == Set(5L))
    assert(w.head.getAs[Long]("n_fingerprints") > 0L)
    // the composed corpus recipe (q57) runs end-to-end over short docs
    assert(graft.operators.Pipeline.q57CorpusRecipe(spark, tmp).count() >= 0L)
  }

  test("fingerprints: token-set fp collides for reordered docs, fp does not") {
    val fp = TextAnalysis.q24Fingerprint(spark, sfDir)
    val nDocs = fp.count()
    assert(fp.select("fp").distinct().count() == nDocs)
    assert(fp.select("fp_token_set").distinct().count() < nDocs,
      "expected reordered near-duplicates to share token-set fingerprint")
  }

  test("q72: split census partitions the corpus, deterministically") {
    val out = TextAnalysis.q72SplitAssign(spark, sfDir).collect()
    val nDocs = graft.core.Tables.documents(spark, sfDir).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs,
      "splits must partition the corpus (every doc in exactly one)")
    assert(out.map(_.getAs[String]("split")).toSet
      .subsetOf(Set("train", "val", "test")))
    // hash-based assignment: a rerun reproduces the census exactly
    val again = TextAnalysis.q72SplitAssign(spark, sfDir).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // 80/10/10 target: train strictly dominates each holdout
    val bySplit = out.groupBy(_.getAs[String]("split"))
      .view.mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(bySplit("train") > bySplit.getOrElse("val", 0L))
    assert(bySplit("train") > bySplit.getOrElse("test", 0L))
  }

  test("q73: repeated passages are real stride-8 tiles in >= 2 docs") {
    val rows = Dedup.q73PassageDedup(spark, sfDir).collect()
    assert(rows.nonEmpty, "corpus near-dups must share at least one tile")
    rows.foreach { r =>
      assert(r.getAs[String]("passage").split(" ").length == Dedup.PassageWin)
      assert(r.getAs[Long]("n_docs") >= 2)
      assert(r.getAs[Long]("n_occurrences") >= r.getAs[Long]("n_docs"))
    }
    // brute-force recheck: recount one passage's distinct docs from the
    // raw text with the same non-overlapping full-window tiling
    val probe = rows.minBy(_.getAs[String]("passage"))
    val p0 = probe.getAs[String]("passage")
    val n = graft.core.Tables.documents(spark, sfDir)
      .select("text").collect().count { d =>
        d.getString(0).split(" ").grouped(Dedup.PassageWin)
          .exists(g => g.length == Dedup.PassageWin && g.mkString(" ") == p0)
      }
    assert(n == probe.getAs[Long]("n_docs"), s"passage '$p0': $n docs")
  }

  test("canonical selection: max quality wins, ties to smallest doc_id") {
    import spark.implicits._
    val cq = Seq(
      (10L, 11L, 0.5), (10L, 12L, 0.9), (10L, 13L, 0.9),
      (20L, 21L, 0.3)).toDF("cluster_id", "doc_id", "quality")
    val out = Dedup.canonicalPerCluster(cq).collect().map(r =>
      r.getAs[Long]("cluster_id") -> ((r.getAs[Long]("canonical_doc_id"),
        r.getAs[Long]("n_docs"), r.getAs[Double]("quality")))).toMap
    assert(out(10L) == ((12L, 3L, 0.9)), "quality tie must break to min id")
    assert(out(20L) == ((21L, 1L, 0.3)))
  }

  test("q75: bigram conditionals match a brute-force recount") {
    val rows = TextAnalysis.q75BigramLm(spark, sfDir).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val p = r.getAs[Double]("p_cond")
      assert(p > 0.0 && p <= 1.0, r.toString)
    }
    val top = rows.head // limit preserves the (n_bigram desc, w1, w2) order
    val w1 = top.getAs[String]("w1"); val w2 = top.getAs[String]("w2")
    var nb = 0L; var np = 0L
    graft.core.Tables.documents(spark, sfDir)
      .select("text").collect().foreach { t =>
        t.getString(0).split(" ").sliding(2).filter(_.length == 2)
          .foreach { g =>
            if (g(0) == w1) { np += 1; if (g(1) == w2) nb += 1 }
          }
      }
    assert(nb == top.getAs[Long]("n_bigram"))
    assert(math.abs(top.getAs[Double]("p_cond") - nb.toDouble / np) < 1e-3)
  }

  test("q81: weighted-sample membership is exactly the hash-threshold set") {
    val out = TextAnalysis.q81WeightedSample(spark, sfDir).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_total"), r.getAs[Long]("n_kept")))).toMap
    // recompute the kept set deterministically from raw doc_id + quality
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      java.lang.Long.parseLong(hex, 16)
    }
    val docs = TextAnalysis.q22Quality(spark, sfDir)
      .join(graft.core.Tables.documents(spark, sfDir)
        .select("doc_id", "lang"), "doc_id")
      .collect()
    val expect = docs.groupBy(_.getAs[String]("lang")).map { case (l, rs) =>
      l -> ((rs.length.toLong, rs.count(r =>
        bucket(r.getAs[Long]("doc_id")) <
          r.getAs[Double]("quality") * 4194304.0).toLong))
    }
    assert(out == expect, s"$out vs $expect")
  }

  test("q77: top outliers carry the true max centroid distances") {
    val rows = Similarity.q77EmbeddingOutliers(spark, sfDir).collect()
    assert(rows.length == 10)
    val dists = rows.map(_.getAs[Double]("dist2"))
    assert(dists.zip(dists.tail).forall { case (a, b) => a >= b })
    assert(dists.forall(_ >= 0.0))
    // brute-force recompute: plain double centroids diverge from the
    // decimal-snapped ones by < 1e-5 per element, far under tolerance
    val emb = graft.core.Tables.embeddings(spark, sfDir)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
    val cents = emb.groupBy(_._2).view.mapValues { vs =>
      val dim = vs.head._3.length
      val c = new Array[Double](dim)
      vs.foreach(v => (0 until dim).foreach(i => c(i) += v._3(i)))
      c.map(_ / vs.length)
    }.toMap
    val d2 = emb.map { case (id, lab, v) =>
      (id, v.zip(cents(lab)).map { case (x, c) => (x - c) * (x - c) }.sum)
    }.toMap
    rows.foreach { r =>
      val want = d2(r.getAs[Long]("vec_id"))
      assert(math.abs(r.getAs[Double]("dist2") - want) < 1e-2,
        s"vec ${r.getAs[Long]("vec_id")}: ${r.getAs[Double]("dist2")} vs $want")
    }
    // the reported top-1 really is the global argmax
    val globalMax = d2.values.max
    assert(math.abs(dists.head - globalMax) < 1e-2)
  }

  // nShards is a PARTITIONING choice, not a shuffling choice: the one
  // global md5 order is fixed by (seed, doc_id), and any shard count
  // merely slices it. The census a pipeline audits (membership, totals,
  // relative document order) must therefore be invariant to nShards —
  // and the auto policy must size shard count off the corpus, since the
  // per-shard rank window pins one reducer per shard.
  test("shuffle shards: census invariant to nShards, auto policy sizes from corpus") {
    import spark.implicits._
    val P = graft.operators.Pipeline
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars")
    val nDocs = docs.count()
    // the global order all shardings must restrict to
    val globalRank = P.shuffleShards(docs, 1L, "s42")
      .select($"doc_id", $"pos".as("grank"))
    for (n <- Seq(3L, 16L, 64L)) {
      val sh = P.shuffleShards(docs, n, "s42")
        .select($"doc_id", $"shard", $"pos")
      // census: same membership and totals under every shard count
      assert(sh.count() == nDocs)
      assert(sh.select("doc_id").distinct().count() == nDocs)
      // order restriction: within any shard, sorting by pos must sort
      // by grank — the doc at max pos carries the shard's max grank
      val byShardMaxG = sh.join(globalRank, "doc_id")
        .groupBy($"shard").agg(max($"grank").as("mx"),
          max_by($"grank", $"pos").as("at_last_pos"))
      assert(byShardMaxG.filter($"mx" =!= $"at_last_pos").count() == 0,
        s"nShards=$n: shard order is not the restriction of the global order")
    }
    // strongest form at one shard count: the full per-shard sequences
    // are the global sequence filtered to the shard (exact, 500 docs)
    val sh4 = P.shuffleShards(docs, 4L, "s42")
      .join(globalRank, "doc_id")
      .select($"shard", $"pos", $"grank", $"doc_id").collect()
    sh4.groupBy(_.getAs[Long]("shard")).foreach { case (_, rows) =>
      val byPos = rows.sortBy(_.getAs[Int]("pos")).map(_.getAs[Int]("grank"))
      assert(byPos.sameElements(byPos.sorted),
        "per-shard pos order must be the global-order restriction")
    }
    // auto policy: ceil(500/100) = 5 shards, hash-balanced sizes
    val auto = P.shuffleShardsAuto(docs, "s42", targetRowsPerShard = 100L)
    val sizes = auto.groupBy($"shard").count().collect().map(_.getLong(1))
    assert(sizes.length == math.ceil(nDocs / 100.0).toInt,
      s"auto must derive ceil(n/target) shards, got ${sizes.length}")
    assert(sizes.max < 200L, s"hash-balanced shards, worst ${sizes.max}")
    // degenerate corpora still shard (never 0 shards)
    assert(P.shuffleShardsAuto(docs.limit(1), "s42").select("shard")
      .head().getLong(0) == 0L)
  }

  test("shuffle shards: bijection, contiguous 1..n positions, " +
    "partitioning-invariant, append-stable shards, seed-sensitive") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"n_chars")
    val P = graft.operators.Pipeline
    val sh = P.shuffleShards(docs, 16L, "s42")
      .select($"doc_id", $"shard", $"pos").cache()
    try {
      // every document exactly once
      val n = docs.count()
      assert(sh.count() == n)
      assert(sh.select("doc_id").distinct().count() == n)
      // pos is a contiguous 1..count permutation within each shard
      val bad = sh.groupBy($"shard")
        .agg(count(lit(1)).as("cnt"), min($"pos").as("mn"),
          max($"pos").as("mx"), countDistinct($"pos").as("dp"))
        .filter($"mn" =!= 1 || $"mx" =!= $"cnt" || $"dp" =!= $"cnt")
        .count()
      assert(bad == 0L, "positions must be a contiguous 1..n per shard")
      // input partitioning cannot change the result
      val re = P.shuffleShards(docs.repartition(7), 16L, "s42")
        .select($"doc_id", $"shard", $"pos")
      assert(re.collect().toSet == sh.collect().toSet)
      // appending documents never moves an EXISTING document's shard
      // (pos may shift as new docs interleave; shard is hash-stable)
      val half = P.shuffleShards(docs.filter($"doc_id" % 2 === 0), 16L, "s42")
        .select($"doc_id", $"shard".as("shard_half"))
      assert(sh.join(half, "doc_id")
        .filter($"shard" =!= $"shard_half").count() == 0L)
      // a different seed is a different permutation
      val reseed = P.shuffleShards(docs, 16L, "s43")
        .select($"doc_id", $"shard", $"pos")
      assert(reseed.collect().toSet != sh.collect().toSet)
    } finally sh.unpersist()
  }

  test("q95: bands partition the corpus, cutoffs respected, " +
    "head is more fluent than tail") {
    val rows = TextAnalysis.q95LmQuality(spark, sfDir).collect()
    val byBand = rows.map(r => r.getAs[String]("band") -> r).toMap
    // every doc with >= 2 tokens lands in exactly one band
    val nDocs = graft.core.Tables.documents(spark, sfDir)
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // calibrated cutoffs populate all three bands on this corpus family
    assert(byBand.keySet == Set("head", "middle", "tail"), byBand.keySet)
    // surprisal ordering: head (most fluent) < middle < tail
    def avg(b: String) = byBand(b).getAs[Double]("avg_score")
    assert(avg("head") < avg("middle") && avg("middle") < avg("tail"),
      s"head=${avg("head")} middle=${avg("middle")} tail=${avg("tail")}")
    // scores are mean NEGATIVE-log conditionals: strictly positive
    rows.foreach(r => assert(r.getAs[Double]("avg_score") > 0.0))
  }

  test("z_order16: bit-parity with the naive interleave loop; codegen'd; " +
    "tile prefixes bound both dimensions") {
    import spark.implicits._
    // naive reference: place bit i of x at 2i, bit i of y at 2i+1
    def naive(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L) { (z, i) =>
        z | ((x >> i) & 1L) << (2 * i) | ((y >> i) & 1L) << (2 * i + 1)
      }
    val rnd = new scala.util.Random(7)
    val cases = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L),
      (65536L, 0L), (-1L, -1L)) ++ // masks to low 16 bits
      Seq.fill(200)((rnd.nextLong().abs % 70000, rnd.nextLong().abs % 70000))
    cases.foreach { case (x, y) =>
      assert(graft.functions.Morton.zOrder16(x, y) == naive(x & 0xffffL, y & 0xffffL),
        s"($x, $y)")
    }
    // expression path (codegen) agrees with the kernel, and SQL surface works
    graft.functions.geo.register(spark)
    val df = cases.toDF("x", "y")
      .select(graft.functions.geo.z_order16($"x", $"y").as("z1"),
        expr("z_order16(x, y)").as("z2"), $"x", $"y")
    df.collect().foreach { r =>
      val want = naive(r.getAs[Long]("x") & 0xffffL, r.getAs[Long]("y") & 0xffffL)
      assert(r.getAs[Long]("z1") == want && r.getAs[Long]("z2") == want)
    }
    // the layout property q96 audits: a z >> 2k tile prefix bounds BOTH
    // dimensions to a 2^k span — every q96 tile has u/v spans <= 15
    Pipeline.q96ZorderLayout(spark, sfDir).collect().foreach { r =>
      assert(r.getAs[Long]("u_max") - r.getAs[Long]("u_min") <= 15L, r)
      assert(r.getAs[Long]("v_max") - r.getAs[Long]("v_min") <= 15L, r)
    }
  }

  test("z-order write path: repartitionByRange(z) gives every output file " +
    "bounded min/max on BOTH dimensions") {
    import spark.implicits._
    // the write-side demonstration of what q96 audits: range-partition
    // by z, then check each PARTITION (= output file) spans a bounded
    // u- and v-range, so file-level min/max stats prune on either column
    val rnd = new scala.util.Random(11)
    val pts = Seq.fill(4096)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
    val df = pts.toDF("u", "v")
      .withColumn("z", graft.functions.geo.z_order16($"u", $"v"))
      .repartitionByRange(8, $"z")
    val spans = df.mapPartitions { it =>
      val rows = it.toVector
      if (rows.isEmpty) Iterator.empty
      else {
        val us = rows.map(_.getAs[Long]("u")); val vs = rows.map(_.getAs[Long]("v"))
        Iterator((us.max - us.min, vs.max - vs.min))
      }
    }.collect()
    assert(spans.nonEmpty)
    // random (unclustered) layout would give ~full 0..255 span in both
    // dims for every file; z-range files must do strictly better on at
    // least one dim and never exceed the global span
    assert(spans.forall { case (du, dv) => du <= 255 && dv <= 255 })
    assert(spans.count { case (du, dv) => du <= 127 || dv <= 127 } >= spans.length / 2,
      spans.mkString(", "))
  }

  test("zorderWrite: a narrow filter on EITHER dimension skips most files; " +
    "a row-major layout reads every file for the second dimension") {
    import spark.implicits._
    // full 256x256 grid — every (u, v) once, so file stats are exact
    val grid = spark.range(65536L).select(
      (col("id") % 256).as("u"), expr("id div 256").as("v"))
    val zDir = java.nio.file.Files.createTempDirectory("zord-w").toString
    Pipeline.zorderWrite(grid, col("u"), col("v"), zDir, nFiles = 16)
    // baseline: the usual single-key layout (sort by u, then v)
    val rowDir = java.nio.file.Files.createTempDirectory("rowmaj").toString
    grid.repartitionByRange(16, $"u", $"v").sortWithinPartitions($"u", $"v")
      .write.mode("overwrite").parquet(rowDir)
    // per-file min/max — the same stats a parquet footer gives a reader;
    // a file can be SKIPPED for filter c∈[0,15] unless its range intersects
    def stats(dir: String, c: String) = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(c)).as("lo"), max(col(c)).as("hi")).collect()
      .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
    def hit(dir: String, c: String): Int =
      stats(dir, c).count { case (lo, _) => lo <= 15L }
    val nZ = stats(zDir, "u").length
    // nothing lost in the clustered write
    assert(spark.read.parquet(zDir).count() == 65536L)
    // z layout: each file covers one z range ⇒ a quarter-ish of u AND v —
    // a 16-wide filter on either column touches a bounded file subset
    assert(hit(zDir, "u") <= nZ / 2, s"u-filter hit ${hit(zDir, "u")}/$nZ")
    assert(hit(zDir, "v") <= nZ / 2, s"v-filter hit ${hit(zDir, "v")}/$nZ")
    // row-major: perfectly prunable on u, but EVERY u-stripe spans all
    // of v — the v filter cannot skip a single file
    val rowStats = stats(rowDir, "v")
    assert(hit(rowDir, "v") == rowStats.length,
      "row-major layout must degrade to a full read on v")
  }

  test("q113: minhash estimator census — exact pairs agree fully, " +
    "q26's links are a subset, error bounded") {
    val rows = Dedup.q113MinhashErr(spark, sfDir).collect()
    assert(rows.nonEmpty, "expected LSH candidates on the dup-heavy fixture")
    rows.foreach { r =>
      val (nm, est, ex, err) = (r.getAs[Int]("n_match"),
        r.getAs[Double]("est_jac"), r.getAs[Double]("exact_jac"),
        r.getAs[Double]("abs_err"))
      assert(nm >= 0 && nm <= 6)
      // identical token sets hash to identical signatures — the
      // estimator can never disagree on an exact duplicate
      if (ex == 1.0) assert(nm == 6, s"exact dup with n_match=$nm")
      assert(math.abs(err - math.abs(est - ex)) < 2e-4)
    }
    // every verified q26 link is a candidate in this census (q113 is
    // q26 minus the threshold, plus the estimate)
    val links = Dedup.q26MinHashLsh(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    val cands = rows.map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    assert(links.subsetOf(cands), s"${(links -- cands).size} links missing")
    // the tuning signal is usable: mean |est-exact| over candidates
    // stays inside the K=6 estimator's deterministic band on this corpus
    val meanErr = rows.map(_.getAs[Double]("abs_err")).sum / rows.length
    assert(meanErr <= 0.25, s"mean abs err $meanErr")
  }

  test("q114: DSIR weights rank the target language first") {
    val rows = TextAnalysis.q114DsirWeights(spark, sfDir).collect()
    val by = rows.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // census partitions the corpus
    assert(by.values.map(_._1).sum ==
      graft.core.Tables.documents(spark, sfDir).count())
    by.values.foreach { case (n, sel, _) => assert(sel >= 0 && sel <= n) }
    // the synthetic languages share most of their vocabulary, so the
    // per-doc w>0 cut is a weak signal here — but the MEAN importance
    // weight must still rank the target domain strictly first, with
    // no language label ever reaching the scorer
    val (_, _, enW) = by("en")
    by.foreach { case (lang, (_, _, w)) =>
      if (lang != "en") assert(enW > w, s"en $enW not above $lang $w")
    }
  }

  test("q115: BPE application compresses, never splits below one " +
    "subtoken per word, and fires the learned merges") {
    val rows = TextAnalysis.q115BpeApply(spark, sfDir).collect()
    assert(rows.nonEmpty)
    var fired = false
    rows.foreach { r =>
      val (nw, nc, ns, comp) = (r.getAs[Long]("n_words"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("n_subtokens"),
        r.getAs[Double]("compression"))
      // a merge only ever fuses two symbols: chars is the ceiling,
      // one-subtoken-per-word the floor
      assert(ns <= nc, s"subtokens $ns above chars $nc")
      assert(ns >= nw, s"subtokens $ns below words $nw")
      assert(comp <= 1.0 && comp > 0.0)
      if (ns < nc) fired = true
    }
    assert(fired, "3 learned merges must fire somewhere in the corpus")
    // chars column is the plain character census — cross-check against
    // an independent aggregation
    val expectChars = graft.core.Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .agg(sum(length(col("w")))).head().getLong(0)
    assert(rows.map(_.getAs[Long]("n_chars")).sum == expectChars)
  }

  test("q116: temperature quotas flatten the head language, spend the " +
    "budget, and selection respects them") {
    val rows = Pipeline.q116TemperatureMix(spark, sfDir).collect()
    val by = rows.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(4)))).toMap
    // integer-floor quotas lose strictly less than one token per lang
    val totQuota = by.values.map(_._2).sum
    assert(totQuota <= 2000L && totQuota >= 2000L - by.size,
      s"quota mass $totQuota")
    // T=2 flattening: the head language's quota SHARE sits strictly
    // below its token share, every tail language's strictly above
    val totTok = by.values.map(_._1).sum
    by.foreach { case (lang, (n, q, _)) =>
      val tokShare = n.toDouble / totTok
      val quotaShare = q.toDouble / totQuota
      if (lang == "en") assert(quotaShare < tokShare, s"en not flattened")
      else assert(quotaShare > tokShare, s"$lang not upweighted")
    }
    // greedy fill never overruns its quota
    by.values.foreach { case (_, q, tokSel) => assert(tokSel <= q) }
  }

  test("q117: sweep is monotone in tau and agrees with q97 at the " +
    "default threshold") {
    val rows = Similarity.q117SemdedupSweep(spark, sfDir).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0.1, 0.25, 0.5, 0.75, 0.9))
    // every tau sees the same vector population
    assert(rows.map(_._2).distinct.length == 1)
    // raising tau can only keep MORE vectors
    rows.map(_._3).sliding(2).foreach {
      case Array(a, b) => assert(a <= b); case _ => }
    // the tau=0.25 point reproduces q97's census exactly
    val q97kept = Similarity.q97SemDedup(spark, sfDir).collect()
      .count(_.getAs[Boolean]("kept")).toLong
    assert(rows.find(_._1 == 0.25).get._3 == q97kept)
  }

  test("q118: bands partition the gram-bearing corpus; duplicates land " +
    "in templated; band means order") {
    val rows = TextAnalysis.q118NoveltyCensus(spark, sfDir).collect()
    val by = rows.map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(2)))).toMap
    val withGrams = graft.core.Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 8).count()
    assert(by.values.map(_._1).sum == withGrams)
    // zero unique grams is the definition of the band
    assert(by("templated")._2 == 0.0)
    // every doc whose text appears >1 times has novelty 0 by
    // construction (its grams all recur in the copy)
    val dupDocs = graft.core.Tables.documents(spark, sfDir)
      .groupBy(md5(col("text"))).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).agg(coalesce(sum(col("n")), lit(0L)))
      .head().getLong(0)
    assert(by("templated")._1 >= dupDocs,
      s"templated ${by("templated")._1} < exact-dup docs $dupDocs")
    // band means respect the cut order where the bands exist
    for (hi <- by.get("typical"); lo <- by.get("templated"))
      assert(lo._2 < hi._2)
    for (hi <- by.get("distinct"); lo <- by.get("typical"))
      assert(lo._2 < hi._2)
  }

  test("q119: slope negative but far from Zipf -1 on the synthetic " +
    "corpus; r_used honors the vocab floor") {
    val rows = TextAnalysis.q119ZipfSlope(spark, sfDir).collect()
    assert(rows.length ==
      graft.core.Tables.documents(spark, sfDir).select("lang")
        .distinct().count())
    rows.foreach { r =>
      val (nVocab, rUsed, slope) = (r.getLong(1), r.getLong(2),
        r.getDouble(3))
      assert(rUsed == math.min(50L, nVocab))
      // frequencies decrease with rank, so the fit is negative — but
      // the near-uniform synthetic vocabulary must sit far above the
      // natural-language slope of -1: the diagnostic flags it
      assert(slope < 0.0, s"slope $slope not negative")
      assert(slope > -0.6, s"slope $slope reads as natural text")
    }
  }

  test("q120: compression curve is monotone in merges, anchored at raw " +
    "chars, and lands on q115's total") {
    val rows = TextAnalysis.q120BpeSweep(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2, 3))
    // same word population and char mass at every k
    assert(rows.map(r => (r._2, r._3)).distinct.length == 1)
    // each additional merge can only fuse pairs: strictly fewer
    // subtokens while the rule still fires, never more
    rows.map(_._4).sliding(2).foreach {
      case Array(a, b) => assert(b <= a); case _ => }
    assert(rows.head._4 == rows.head._3 && rows.head._5 == 1.0)
    // k=3 is exactly the q115 application census
    val q115Total = TextAnalysis.q115BpeApply(spark, sfDir).collect()
      .map(_.getAs[Long]("n_subtokens")).sum
    assert(rows.last._4 == q115Total)
  }

  test("q121: skew census matches a direct per-key recount; hot key is " +
    "a true argmax; boundaries ordered") {
    import graft.operators.Relational
    val rows = Relational.q121SkewCensus(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("orders.o_custkey", "events.user_id",
      "lineitem.l_partkey"))
    // recount orders.o_custkey from scratch
    val counts = graft.core.Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val r = rows("orders.o_custkey")
    assert(r.getAs[Long]("n_rows") == counts.map(_._2).sum)
    assert(r.getAs[Long]("n_keys") == counts.length)
    val maxCnt = counts.map(_._2).max
    assert(r.getAs[Long]("max_cnt") == maxCnt)
    // hot key = smallest key among those at max count
    assert(r.getAs[Long]("hot_key") ==
      counts.filter(_._2 == maxCnt).map(_._1).min)
    // top-1% boundary: the k-th largest count, k = ceil(n_keys/100)
    val k = math.max(1L, math.ceil(counts.length / 100.0).toLong).toInt
    assert(r.getAs[Long]("top1pct_cnt") ==
      counts.map(_._2).sorted(Ordering[Long].reverse).apply(k - 1))
    rows.values.foreach { row =>
      assert(row.getAs[Long]("top1pct_cnt") <= row.getAs[Long]("max_cnt"))
      assert(row.getAs[Double]("skew_ratio") >= 1.0)
    }
  }

  test("q122: PMI matches a brute-force recount; output ordered and " +
    "floored") {
    val rows = TextAnalysis.q122PmiPairs(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(rows.length <= 20 && rows.nonEmpty)
    // brute-force recount on the driver
    val texts = graft.core.Tables.documents(spark, sfDir)
      .select("text").collect().map(_.getString(0))
    val bigrams = texts.flatMap(t => t.split(" ").sliding(2)
      .filter(_.length == 2).map(a => (a(0), a(1))))
    val cab = bigrams.groupBy(identity).view.mapValues(_.length).toMap
    val ca = bigrams.groupBy(_._1).view.mapValues(_.length).toMap
    val cb = bigrams.groupBy(_._2).view.mapValues(_.length).toMap
    val n = bigrams.length.toDouble
    rows.foreach { case (w1, w2, c, pmi) =>
      assert(c >= 5 && cab((w1, w2)) == c)
      val expect = math.log(c.toDouble * n / (ca(w1).toDouble * cb(w2)))
      assert(math.abs(pmi - expect) < 1e-3, s"($w1,$w2): $pmi vs $expect")
    }
    // ordering is (pmi desc, w1, w2) — a total order
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._4 > b._4 || (a._4 == b._4 &&
          (a._1 < b._1 || (a._1 == b._1 && a._2 <= b._2))))
      case _ =>
    }
  }

  test("q124: paths match a driver-side trigram recount; reach bounded " +
    "by count; output totally ordered") {
    import graft.operators.Relational
    val rows = Relational.q124PathMining(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.length <= 10)
    // driver-side recount over the same (ts, event_id) total order
    val evs = graft.core.Tables.events(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val byUser = evs.groupBy(_._1).view.mapValues(
      _.sortBy(e => (e._2, e._3)).map(_._4).toSeq)
    val paths = byUser.toSeq.flatMap { case (u, seq) =>
      seq.sliding(3).filter(_.length == 3)
        .map(w => (w.mkString(">"), u)).toSeq }
    val cnt = paths.groupBy(_._1).view
      .mapValues(g => (g.size.toLong, g.map(_._2).distinct.size.toLong))
      .toMap
    rows.foreach { case (p, n, nu) =>
      assert(cnt(p) == ((n, nu)), s"$p: got ($n,$nu) want ${cnt(p)}")
      assert(nu <= n)
    }
    // the census is the true top-10 slice of the recount
    val expectTop = cnt.toSeq.map { case (p, (n, _)) => (p, n) }
      .sortBy { case (p, n) => (-n, p) }.take(10).map(_._1)
    assert(rows.map(_._1).toSeq == expectTop)
  }

  test("q125: merge laws — empty delta is identity, and " +
    "diff(A, merge(A, delta)) reproduces the delta exactly") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sfDir)
    // identity law: merging an empty delta returns the snapshot
    val emptyDelta = docs.filter(lit(false))
      .select($"doc_id", lit("upsert").as("op"), $"lang", $"text")
    val id = Pipeline.mergeApply(docs, emptyDelta)
    assert(id.filter($"change" =!= "kept").count() == 0)
    assert(id.count() == docs.count())
    // composition law with q111: the diff of (snapshot, merged) is
    // exactly the applied delta — deletes read back as 'removed',
    // upserts on live keys as 'modified', fresh keys as 'added'
    val delta = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id", lit("delete").as("op"), $"lang", $"text")
      .unionByName(docs.filter($"doc_id" % 7 =!= 0 && $"doc_id" % 5 === 0)
        .select($"doc_id", lit("upsert").as("op"), $"lang",
          concat($"text", lit(" v2")).as("text")))
      .unionByName(docs.filter($"doc_id" % 11 === 0)
        .select((-$"doc_id" - 1).as("doc_id"), lit("upsert").as("op"),
          $"lang", concat($"text", lit(" ins")).as("text")))
    val merged = Pipeline.mergeApply(docs, delta)
      .select($"doc_id", $"lang", $"text")
    val diff = Pipeline.snapshotDiff(docs, merged)
      .groupBy($"status").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count()
    val nDel = docs.filter($"doc_id" % 7 === 0).count()
    val nUpd = docs.filter($"doc_id" % 7 =!= 0 && $"doc_id" % 5 === 0).count()
    val nIns = docs.filter($"doc_id" % 11 === 0).count()
    assert(diff.getOrElse("removed", 0L) == nDel)
    assert(diff.getOrElse("modified", 0L) == nUpd)
    assert(diff.getOrElse("added", 0L) == nIns)
    assert(diff.getOrElse("unchanged", 0L) == n - nDel - nUpd)
  }

  test("q125 composition law: the two-batch chain equals one apply of " +
    "the resolved delta, with cross-batch delete/upsert edges live") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"text")
    // δ1 = the q125 family; δ2 overlaps it on purpose: odd %3 keys
    // upserted (catches δ1-deleted keys, e.g. 21), even %3 keys
    // deleted (catches δ1-upserted keys, e.g. 30), plus a fresh insert
    val d1 = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id", lit("delete").as("op"), $"lang", $"text")
      .unionByName(docs.filter($"doc_id" % 7 =!= 0 && $"doc_id" % 5 === 0)
        .select($"doc_id", lit("upsert").as("op"), $"lang",
          concat($"text", lit(" v2")).as("text")))
      .unionByName(docs.filter($"doc_id" % 11 === 0)
        .select((-$"doc_id" - 1).as("doc_id"), lit("upsert").as("op"),
          $"lang", concat($"text", lit(" ins")).as("text")))
    val d2 = docs.filter($"doc_id" % 3 === 0)
      .select($"doc_id",
        when($"doc_id" % 2 === 0, "delete").otherwise("upsert").as("op"),
        $"lang", concat($"text", lit(" v3")).as("text"))
    // precondition: the edges this law is about actually occur
    val d1del = docs.filter($"doc_id" % 7 === 0).select($"doc_id")
    val d2ups = d2.filter($"op" === "upsert").select($"doc_id")
    val d1ups = d1.filter($"op" === "upsert").select($"doc_id")
    val d2del = d2.filter($"op" === "delete").select($"doc_id")
    assert(d1del.join(d2ups, "doc_id").count() > 0,
      "need a delete-then-upsert key")
    assert(d1ups.join(d2del, "doc_id").count() > 0,
      "need an upsert-then-delete key")
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"lang", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    val chain = Pipeline.mergeApply(
      Pipeline.mergeApply(docs, d1).select($"doc_id", $"lang", $"text"),
      d2)
    val compacted = Pipeline.mergeApply(docs, Pipeline.resolveDeltas(d1, d2))
    assert(canon(chain) == canon(compacted),
      "multi-batch CDC must equal the compacted apply on content")
  }

  test("q126: bucket-decomposed running max equals the one-reducer " +
    "global window, row for row") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Relational
    // one-reducer reference over the same jittered arrival order
    val e = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", unix_micros($"ts").as("us"))
      .withColumn("arr", $"us" +
        conv(substring(md5($"event_id".cast("string")), 1, 8), 16, 10)
          .cast("long") % 600000000L)
    val w = Window.orderBy($"arr", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = e.withColumn("rm", max($"us").over(w))
      .select($"event_id",
        greatest(lit(0L), coalesce($"rm" - $"us", lit(0L))).as("dis"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refBands = ref.values.groupBy {
      case 0L => "ordered"
      case d if d <= 1000000L => "le_1s"
      case d if d <= 60000000L => "le_60s"
      case d if d <= 600000000L => "le_600s"
      case _ => "gt_600s"
    }.view.mapValues(v => (v.size.toLong, v.max)).toMap
    val got = Relational.q126DisorderCensus(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == refBands, s"got $got want $refBands")
    // disorder totals are non-trivial only when arrivals interleave:
    // whatever this fixture yields, the decomposition must agree
    assert(got.values.map(_._1).sum == ref.size)
    // the 8-hex jitter (round-10 fix) makes the full 0-600 s range
    // live: the le_600s band must be populated, and gt_600s must be
    // the documented structural zero (disorder is bounded by the
    // jitter modulus — the guarantee a watermark sized at the bound
    // relies on)
    assert(got.contains("le_600s"), s"le_600s band dead: $got")
    assert(!got.contains("gt_600s"), s"gt_600s must be structurally empty: $got")
  }

  test("ivfAppend: appending a batch touches ONLY its cells' files, the " +
    "merged layout equals base+assignment row-for-row, and a probe over " +
    "the appended index stays partition-pruned with full parity") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val maxId = emb.agg(max($"vec_id")).head().getLong(0)
    val split = maxId / 2
    val base = emb.filter($"vec_id" <= split)
    val delta = emb.filter($"vec_id" > split)
    val (idx, cents) = Similarity.ivfLearned(base, k = 8, iters = 2)
    val root = java.nio.file.Files.createTempDirectory("ivfappend").toString
    val tmp = s"$root/index"
    FullIvf.write(idx, tmp)
    cents.write.parquet(s"$root/_cents")
    def assignNew(e: org.apache.spark.sql.DataFrame) =
      Similarity.ivfAssign(e, Similarity.Quantizer.of(cents))
    def fileMap(): Map[String, Set[String]] = new java.io.File(tmp).listFiles
      .filter(_.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles.map(_.getName)
        .filter(_.endsWith(".parquet")).toSet).toMap
    val before = fileMap()
    FullIvf.append(spark, root, delta)
    val after = fileMap()
    // file-level physics: cells the batch assigns into gained files;
    // every other cell's file set is BYTE-UNTOUCHED (no rewrite)
    val touched = assignNew(delta)
      .select($"cell").distinct().collect().map(r => s"cell=${r.getLong(0)}").toSet
    assert(touched.nonEmpty)
    touched.foreach { c =>
      assert(after(c).size > before.getOrElse(c, Set.empty).size,
        s"$c must gain files on append")
      assert(before.getOrElse(c, Set.empty).subsetOf(after(c)),
        s"$c base files must survive append")
    }
    (after.keySet -- touched).foreach { c =>
      assert(after(c) == before(c), s"untouched $c files changed")
    }
    // merged layout == base index + frozen-centroid assignment, row
    // for row (vec_id -> cell)
    val merged = FullIvf.read(spark, tmp)
      .select($"vec_id", $"cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    val expected = (idx.select($"vec_id", $"cell").collect() ++
      assignNew(delta)
        .select($"vec_id", $"cell").collect())
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(merged.sameElements(expected),
      "appended layout diverged from retrain-free assignment")
    // probe parity over the merged index: same top-10 as the in-memory
    // union, and the scan stays partition-pruned to the probed cells
    val q = emb.filter($"vec_id" === 0)
      .selectExpr("cast(embedding as array<double>)").head().getSeq[Double](0)
    val onDisk = FullIvf.read(spark, tmp).filter($"vec_id" =!= 0)
    val inMem = idx.unionByName(assignNew(delta))
      .filter($"vec_id" =!= 0)
    def top(ix: org.apache.spark.sql.DataFrame) =
      Similarity.ivfSearch(ix, cents, q, nprobe = 3, topK = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(top(onDisk) == top(inMem), "probe parity broke after append")
    val probed = onDisk.join(
      broadcast(cents.orderBy($"cell".asc).limit(3).select($"cell")), "cell")
    assert(probed.queryExecution.executedPlan.toString
      .contains("PartitionFilters"), "probe lost partition pruning")
  }

  test("q76: <= 3 terms per doc, ranks contiguous, scores non-increasing") {
    val rows = TextAnalysis.q76TfIdfTerms(spark, sfDir).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.size == graft.core.Tables.documents(spark, sfDir).count())
    byDoc.foreach { case (_, rs) =>
      assert(rs.length <= 3)
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).sameElements(1L to sorted.length))
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(scores.forall(_ >= 0.0))
    }
  }

  test("q172 compaction census: per-bucket dead/total rows sum to the " +
    "layout-level census, cover exactly the layout's tb partitions, and " +
    "a fresh (undeleted) layout votes no-compact with zero dead") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = graft.core.Tables.documents(spark, sfDir)
    val path = java.nio.file.Files
      .createTempDirectory("bm25census").toString
    val ivfRoot = java.nio.file.Files
      .createTempDirectory("ivfcensus").toString
    TextAnalysis.bm25IndexWrite(docs, path)
    FullIvf.build(spark, sfDir, ivfRoot)
    val ivfIdx = s"$ivfRoot/index"
    // fresh layouts: no tombstones -> 0 dead everywhere, compact_now=0
    val fresh = TextAnalysis.compactionCensus(spark, path, ivfIdx, 0.10)
      .collect()
    assert(fresh.forall(r => r.getLong(2) == 0L && r.getLong(4) == 0L))
    TextAnalysis.bm25Delete(
      docs.filter($"doc_id" % 7 === 3).select($"doc_id"), path)
    val census = TextAnalysis.compactionCensus(spark, path, ivfIdx, 0.10)
      .filter($"layout" === "bm25").head()
    val byBucket = TextAnalysis.bm25DeadByBucket(spark, path).collect()
    assert(byBucket.map(_.getLong(1)).sum == census.getLong(1),
      "per-bucket totals must sum to the layout census")
    assert(byBucket.map(_.getLong(2)).sum == census.getLong(2),
      "per-bucket dead rows must sum to the layout census")
    // bucket set == the layout's physical tb partition dirs
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("tb="))
      .map(_.getName.stripPrefix("tb=").toLong).toSet
    // tb reads back int32 from partition-dir inference
    assert(byBucket.map(_.getAs[Number](0).longValue).toSet == dirs)
    // 1/7 of docs tombstoned -> the layout votes compact at a 10%
    // threshold, and dead_frac is in a sane band around 1/7
    assert(census.getLong(4) == 1L)
    assert(census.getDouble(3) > 0.05 && census.getDouble(3) < 0.30)
    // ivf twin: per-cell dead/total sums to the layout-level ivf row
    graft.operators.Similarity.ivfDelete(
      graft.core.Tables.embeddings(spark, sfDir)
        .filter($"vec_id" % 7 === 3).select($"vec_id"), ivfIdx)
    val ivfCensus = TextAnalysis.compactionCensus(spark, path, ivfIdx, 0.10)
      .filter($"layout" === "ivf").head()
    val byCell = graft.operators.Similarity.ivfDeadByCell(spark, ivfIdx)
      .collect()
    assert(byCell.map(_.getLong(1)).sum == ivfCensus.getLong(1))
    assert(byCell.map(_.getLong(2)).sum == ivfCensus.getLong(2))
    assert(ivfCensus.getLong(4) == 1L)
  }
  test("ivfServingSetupTenants: a tenant probe is a TWO-LEVEL pruned " +
    "scan (its tb dir, then probed cells inside it); purge empties the " +
    "tenant's live view idempotently; compaction drops its subtree") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ivften").toString
    TenantIvf.build(spark, sfDir, root)
    val idxDir = new java.io.File(s"$root/index")
    val tbDirs = idxDir.listFiles.filter(_.getName.startsWith("tb="))
    assert(tbDirs.length >= 3, s"expected several tenant dirs, got ${tbDirs.length}")
    // probe tenant 0 and capture the probed cells from the same rule
    // the probe uses (smallest query-centroid d2, cell-asc ties)
    val q = spark.read.parquet(s"$root/_query")
    val cells = spark.read.parquet(s"$root/_cents").crossJoin(q)
      .withColumn("qd2",
        expr("aggregate(zip_with(qv, qv, (a,b) -> a*b), 0d, (s,x) -> s+x)")
        - lit(2.0) * expr("aggregate(zip_with(qv, centroid, (a,b) -> a*b), 0d, (s,x) -> s+x)")
        + expr("aggregate(zip_with(centroid, centroid, (a,b) -> a*b), 0d, (s,x) -> s+x)"))
      .orderBy(col("qd2").asc, col("cell").asc).limit(3)
      .select("cell").collect().map(_.getLong(0)).toSeq
    val probe = TenantIvf.probe(spark, root, Some(0L),
      excludeVecId = Some(0L))
    val before = probe.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(before.nonEmpty)
    // physics: the executed scan reads ONLY tb=0's probed-cell files
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(qs.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    val probed2 = TenantIvf.probe(spark, root, Some(0L),
      excludeVecId = Some(0L))
    probed2.collect()
    val scan = allScans(probed2.queryExecution.executedPlan).find(f =>
      f.relation.location.rootPaths.exists(_.toString.contains("ivften")))
      .get
    def parquets(d: java.io.File): Int =
      if (!d.exists) 0 else d.listFiles.count(_.getName.endsWith(".parquet"))
    val filesInProbed = cells.map(c =>
      parquets(new java.io.File(s"$root/index/tb=0/cell=$c"))).sum
    val filesTotal = tbDirs.flatMap(_.listFiles)
      .filter(_.getName.startsWith("cell=")).map(parquets).sum
    assert(scan.metrics("numFiles").value == filesInProbed.toLong,
      s"tenant probe read ${scan.metrics("numFiles").value} files; " +
        s"tb=0's probed cells hold $filesInProbed (of $filesTotal total)")
    assert(filesTotal > filesInProbed,
      "two-level pruning must exclude other tenants' and cells' files")
    // purge tenant 1: live view empties, base files untouched
    val t1All = TenantIvf.read(spark, s"$root/index")
      .filter(col("tb") === 1L).count()
    assert(t1All > 0)
    TenantIvf.purge(spark, root, 1L)
    assert(TenantIvf.readLive(spark, s"$root/index")
      .filter(col("tb") === 1L).count() == 0L,
      "purged tenant must have an empty live view")
    assert(TenantIvf.read(spark, s"$root/index")
      .filter(col("tb") === 1L).count() == t1All,
      "purge must not rewrite base files (logical-now, physical-at-compaction)")
    // idempotence: a re-run (crash recovery) appends zero tombstones
    val tombs = spark.read.parquet(s"$root/index/_tombstones").count()
    TenantIvf.purge(spark, root, 1L)
    assert(spark.read.parquet(s"$root/index/_tombstones").count() == tombs,
      "purge re-run must append nothing")
    // survivor unaffected
    val after = TenantIvf.probe(spark, root, Some(0L),
      excludeVecId = Some(0L)).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(after == before, "survivor's ranking must survive the purge")
    // compaction drops the purged tenant's whole subtree
    val dest = java.nio.file.Files.createTempDirectory("ivftenc").toString
    TenantIvf.compact(spark, s"$root/index", dest)
    assert(!new java.io.File(s"$dest/tb=1").exists(),
      "a fully purged tenant must have no dirs in the compacted generation")
    assert(new java.io.File(s"$dest/tb=0").exists())
    assert(TenantIvf.read(spark, dest)
      .filter(col("tb") === 1L).count() == 0L)
  }

  test("ivfServingSetupSq8: the compressed-at-rest probe answers " +
    "exactly q136, reads only probed cells, and the index is ~4x " +
    "smaller on disk than the full-precision layout") {
    val rootF = java.nio.file.Files.createTempDirectory("ivffull").toString
    val rootQ = java.nio.file.Files.createTempDirectory("ivfsq8").toString
    FullIvf.build(spark, sfDir, rootF)
    Sq8Ivf.build(spark, sfDir, rootQ)
    // ranking parity with the in-query composition (the oracle's law)
    val got = Sq8Ivf.probe(spark, rootQ,
      excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expect = Similarity.q136AnnIvfSq8(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expect, "stored-SQ8 probe must equal q136 row for row")
    // the at-rest win: index bytes shrink ~4x (codes are 1-byte, the
    // embedding column never reaches disk); assert a conservative 2x
    def bytes(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles.map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      walk(new java.io.File(dir))
    }
    val bf = bytes(s"$rootF/index"); val bq = bytes(s"$rootQ/index")
    assert(bq * 2 < bf,
      s"SQ8 index must be well under half the full-precision bytes " +
        s"(got $bq vs $bf)")
    // physics: the probe still prunes to the probed cells' files
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(qs.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    val probed = Sq8Ivf.probe(spark, rootQ,
      excludeVecId = Some(0L))
    probed.collect()
    val scan = allScans(probed.queryExecution.executedPlan).find(f =>
      f.relation.location.rootPaths.exists(_.toString.contains("ivfsq8")))
      .get
    val cellDirs = new java.io.File(s"$rootQ/index").listFiles
      .filter(_.getName.startsWith("cell="))
    val filesTotal = cellDirs
      .map(_.listFiles.count(_.getName.endsWith(".parquet"))).sum
    assert(scan.metrics("numFiles").value < filesTotal.toLong,
      "SQ8 probe must not scan the whole index")
  }

  /** The queries `body` executed whose optimized plan satisfies
    * `hit`, counted by a QueryExecutionListener. Its bus is
    * asynchronous, so a sentinel query fences it: once the sentinel
    * arrives, every earlier execution has been seen.
    */
  private def plansIn[T](hit: org.apache.spark.sql.catalyst.plans.logical
      .LogicalPlan => Boolean)(body: => T): (T, Int) = {
    import org.apache.spark.sql.execution.QueryExecution
    val fence = s"plans-fence-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.toString.contains(fence)) fenced.countDown()
        else if (hit(qe.optimizedPlan)) seen.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = try body finally spark.range(1).select(lit(fence)).collect()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "query-listener fence never arrived")
      (out, seen.get)
    } finally spark.listenerManager.unregister(listener)
  }

  test("q193 build+probe: the measured Spark job count is pinned, and " +
    "one ivfServingSetupSq8 runs the Lloyd aggregation once") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // the benchmark drains the memos before every call, so the count
    // includes materializing the embeddings' checkpoint; the table's
    // own first read (a schema-inference job) happens once per session
    // and is taken here, outside the count
    graft.core.Tables.embeddings(spark, sfDir)
    graft.core.MemoRegistry.evictAll()
    val (rows, jobs) = jobsIn {
      Similarity.q193IvfSq8Stored(spark, sfDir).collect()
    }
    assert(rows.nonEmpty)
    // 9 measured: seed rows, the Lloyd update (map stage + result), the
    // index/_cents/_query writes, the _query and _cents reads, and the
    // probe's result
    assert(jobs <= 9, s"q193 build+probe ran $jobs Spark jobs")
    // the Lloyd update is the only aggregation grouped by `cl` with the
    // per-dimension sums; a leg re-training the quantizer shows twice
    def lloyd(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.exists {
        case a: Aggregate =>
          a.groupingExpressions.exists(_.references.exists(_.name == "cl")) &&
            a.aggregateExpressions.exists(_.name == "s1")
        case _ => false
      }
    val root = java.nio.file.Files.createTempDirectory("ivfsq8lloyd").toString
    val (_, rounds) = plansIn(lloyd) {
      Sq8Ivf.build(spark, sfDir, root)
    }
    assert(rounds == 1, s"the Lloyd aggregation ran $rounds times")
  }

  test("ivfPickCells equals the DataFrame cell pick: nprobe 1..k on the " +
    "stored layout, an exact centroid tie, and a zero query vector") {
    import spark.implicits._
    // the spelling ivfPickCells replaced: _cents x _query, ordered by
    // (qd2 asc, cell asc), limited, collected
    def oldPick(root: String, nprobe: Int): Seq[Long] =
      spark.read.parquet(s"$root/_cents")
        .crossJoin(broadcast(spark.read.parquet(s"$root/_query")))
        .withColumn("qd2",
          graft.functions.geo.dot_product($"qv", $"qv")
            - lit(2.0) * graft.functions.geo.dot_product($"qv", $"centroid")
            + graft.functions.geo.dot_product($"centroid", $"centroid"))
        .orderBy($"qd2".asc, $"cell".asc).limit(nprobe)
        .select($"cell").collect().map(_.getLong(0)).toSeq
    def check(root: String, k: Int): Unit = (1 to k).foreach { n =>
      val got = Similarity.ivfPickCells(spark, root, n).cells
      assert(got == oldPick(root, n), s"$root nprobe=$n")
      assert(got.size == n, s"$root nprobe=$n picked ${got.size}")
    }
    val stored = java.nio.file.Files.createTempDirectory("ivfpick").toString
    FullIvf.build(spark,
      new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath,
      stored)
    check(stored, 8)
    // constructed layouts: cells 5 and 2 share one centroid (an exact
    // qd2 tie: the smaller cell must come first), plus a far cell
    def layout(qv: Seq[Double]): String = {
      val root = java.nio.file.Files.createTempDirectory("ivftie").toString
      Seq((5L, Seq(1.0, 2.0, 3.0)), (2L, Seq(1.0, 2.0, 3.0)),
          (7L, Seq(-4.0, 0.5, 9.0)), (1L, Seq(0.25, -1.0, 2.0)))
        .toDF("cell", "centroid").write.parquet(s"$root/_cents")
      Seq(Tuple1(qv)).toDF("qv").write.parquet(s"$root/_query")
      root
    }
    val tie = layout(Seq(1.5, 1.0, 2.5))
    check(tie, 4)
    assert(Similarity.ivfPickCells(spark, tie, 4).cells.take(2) == Seq(2L, 5L))
    // a zero query: qd2 is each centroid's own norm, ties intact
    check(layout(Seq(0.0, 0.0, 0.0)), 4)
  }

  test("ivfServingSetupPq: the stored-PQ probe answers exactly q149, " +
    "reads only probed cells, and the index is far smaller at rest " +
    "than both the SQ8 and full-precision layouts") {
    val rootF = java.nio.file.Files.createTempDirectory("pqfull").toString
    val rootS = java.nio.file.Files.createTempDirectory("pqsq8").toString
    val rootP = java.nio.file.Files.createTempDirectory("pqpq").toString
    FullIvf.build(spark, sfDir, rootF)
    Sq8Ivf.build(spark, sfDir, rootS)
    PqIvf.build(spark, sfDir, rootP)
    // ranking parity with the in-query composition (the oracle's law):
    // code string AND rounded ADC distance, row for row in order
    val got = PqIvf.probe(spark, rootP,
      excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSeq
    val expect = Similarity.q149AnnIvfPq(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3))).toSeq
    assert(got == expect, "stored-PQ probe must equal q149 row for row")
    // the at-rest win: 4 bytes of member payload vs SQ8's 72 vs
    // full-precision's 256+ — assert conservative factors (parquet
    // framing overhead narrows the raw ratios)
    def bytes(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles.map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length else 0L
      walk(new java.io.File(dir))
    }
    val bf = bytes(s"$rootF/index"); val bs = bytes(s"$rootS/index")
    val bp = bytes(s"$rootP/index")
    assert(bp * 2 < bs,
      s"PQ index must be well under half the SQ8 bytes (got $bp vs $bs)")
    assert(bp * 8 < bf,
      s"PQ index must be under an eighth of full precision ($bp vs $bf)")
    // physics: the probe still prunes to the probed cells' files
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(qs.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(allScans)
    }
    val probed = PqIvf.probe(spark, rootP,
      excludeVecId = Some(0L))
    probed.collect()
    val scan = allScans(probed.queryExecution.executedPlan).find(f =>
      f.relation.location.rootPaths.exists(_.toString.contains("pqpq")))
      .get
    val filesTotal = new java.io.File(s"$rootP/index").listFiles
      .filter(_.getName.startsWith("cell="))
      .map(_.listFiles.count(_.getName.endsWith(".parquet"))).sum
    assert(scan.metrics("numFiles").value < filesTotal.toLong,
      "PQ probe must not scan the whole index")
    // tombstones honored: delete the top hit, re-probe through the
    // live view — the victim is gone, the rest of the ranking holds
    import spark.implicits._
    Similarity.ivfDelete(Seq(expect.head._1).toDF("vec_id"),
      s"$rootP/index")
    val after = PqIvf.probe(spark, rootP,
      excludeVecId = Some(0L)).collect().map(_.getLong(0)).toSeq
    assert(!after.contains(expect.head._1))
    assert(after.take(5) == expect.map(_._1).filterNot(_ == expect.head._1)
      .take(5), "surviving ranking prefix must be unchanged")
  }

  test("tenant-PQ layout: purge + payload-agnostic compaction work on " +
    "4-byte codes — survivor ranking invariant, purged tenant " +
    "unservable, its tb= subtree gone after the rewrite") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("tpq").toString
    TenantPqIvf.build(spark, sfDir, root)
    val survivor = Similarity.IvfTenants.head
    val purged = Similarity.IvfTenants(1)
    def probe(r: String, tb: Long) =
      TenantPqIvf.probe(spark, r, Some(tb),
        excludeVecId = Some(0L)).collect()
        .map(x => (x.getLong(0), x.getString(2), x.getDouble(3))).toSeq
    val before = probe(root, survivor)
    assert(before.nonEmpty)
    TenantPqIvf.purge(spark, root, purged)
    assert(probe(root, purged).isEmpty,
      "purged tenant must be unservable immediately")
    assert(probe(root, survivor) == before,
      "survivor ranking must not move on a neighbor's purge")
    // the r15-advice fix under test: compaction of a NON-embedding
    // payload (4-byte codes) through the payload-agnostic rewrite
    val dest = java.nio.file.Files.createTempDirectory("tpq2").toString
    TenantPqIvf.compact(spark, s"$root/index", s"$dest/index")
    Seq("_cents", "_books", "_query").foreach { side =>
      spark.read.parquet(s"$root/$side")
        .write.mode("overwrite").parquet(s"$dest/$side")
    }
    val tbDirs = new java.io.File(s"$dest/index").listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!tbDirs.contains(s"tb=$purged"),
      s"purged tenant's subtree survived compaction: $tbDirs")
    assert(probe(dest, survivor) == before,
      "compaction must be invisible to the survivor's ranking")
  }

  test("stored IVF layouts, all six (tenants x codec): a half build " +
    "plus encode-append equals the full build row for row, a deleted " +
    "vec_id is hidden, compaction leaves the live view unchanged") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val splitV = emb.agg(floor(max($"vec_id") / 2).cast("long"))
      .as[Long].head()
    val rest = emb.filter($"vec_id" > splitV)
      .select($"vec_id", $"embedding", $"label".cast("long").as("tb"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case x => x
      })
    def live(l: IvfLayout, path: String) =
      rows(l.readLive(spark, path)).sortBy(_.head.asInstanceOf[Long])
    assert(IvfLayout.all.size == 6)
    IvfLayout.all.foreach { l =>
      val tb = Option.when(l.tenants)(Similarity.IvfTenants.head)
      val full = java.nio.file.Files.createTempDirectory("lfull").toString
      val half = java.nio.file.Files.createTempDirectory("lhalf").toString
      l.build(spark, sfDir, full)
      l.build(spark, sfDir, half, members = col("vec_id") <= splitV)
      l.append(spark, half, rest)
      def probe(root: String) = rows(l.probe(spark, root, tb,
        excludeVecId = Some(0L)))
      val expect = probe(full)
      assert(expect.nonEmpty, l.name)
      assert(probe(half) == expect, s"${l.name}: half build + append " +
        "probes differently from the full build")
      assert(live(l, s"$half/index") == live(l, s"$full/index"),
        s"${l.name}: appended members differ from the full build's")
      val victim = expect.head.head.asInstanceOf[Long]
      Similarity.ivfDelete(Seq(victim).toDF("vec_id"), s"$half/index")
      assert(!probe(half).map(_.head).contains(victim), l.name)
      val liveBefore = live(l, s"$half/index")
      assert(!liveBefore.map(_.head).contains(victim), l.name)
      val dest = java.nio.file.Files.createTempDirectory("lcomp").toString
      l.compact(spark, s"$half/index", s"$dest/index")
      assert(!new java.io.File(s"$dest/index/_tombstones").exists(), l.name)
      assert(live(l, s"$dest/index") == liveBefore,
        s"${l.name}: compaction changed the live view")
    }
  }

  test("ivfProbeAt: a probe pinned to a retired-but-retained generation " +
    "answers exactly what the pre-swap probe answered; past retention " +
    "it fails loudly") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ivfgen").toString
    FullIvf.build(spark, sfDir, s"$base/gen0")
    graft.core.Roots.publish(spark, base, "gen0")
    def probeCur() = FullIvf.probe(spark,
      graft.core.Roots.current(spark, base), excludeVecId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val preSwap = probeCur()
    assert(preSwap.nonEmpty)
    // next generation: same build minus the pre-swap winner (a takedown)
    FullIvf.build(spark, sfDir, s"$base/gen1")
    Similarity.ivfDelete(Seq(preSwap.head._1).toDF("vec_id"),
      s"$base/gen1/index")
    graft.core.Roots.publish(spark, base, "gen1")
    // point-in-time law: the retired generation still answers the
    // pre-swap ranking; the live pointer serves the new one
    val atGen0 = Similarity.ivfProbeAt(spark, base, "gen0",
      excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(atGen0 == preSwap, "probe@gen0 must equal the pre-swap probe")
    val cur = probeCur()
    assert(cur == Similarity.ivfProbeAt(spark, base, "gen1",
      excludeVecId = Some(0L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
    assert(!cur.map(_._1).contains(preSwap.head._1),
      "the takedown victim must be gone from the live generation")
    // retention: keepLatest=2 keeps gen0 probe-able; 1 retires it
    assert(graft.core.Roots.retire(spark, base, keepLatest = 2).isEmpty)
    assert(Similarity.ivfProbeAt(spark, base, "gen0",
      excludeVecId = Some(0L)).collect().nonEmpty)
    assert(graft.core.Roots.retire(spark, base, keepLatest = 1) == Seq("gen0"))
    intercept[IllegalArgumentException] {
      Similarity.ivfProbeAt(spark, base, "gen0")
    }
  }

  test("contextPackOverlap: the recall-vs-cost census matches sets " +
    "recomputed independently from the two packs, and both packs obey " +
    "the integer budget prefix rule") {
    def packSets(df: org.apache.spark.sql.DataFrame)
        : Map[Long, Set[Long]] = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    // materialize each pack fully before the other runs (they rebuild
    // the same temp lexical layout)
    val exact = packSets(Similarity.q196ContextPack(spark, sfDir))
    val approx = packSets(Similarity.q199ContextPackApprox(spark, sfDir))
    assert(exact.nonEmpty && approx.keySet == exact.keySet,
      "both packs must ship context for every batch query")
    val census = Similarity.contextPackOverlap(spark, sfDir).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_approx"),
          r.getAs[Long]("n_common"), r.getAs[Double]("overlap"))).toMap
    assert(census.keySet == exact.keySet)
    exact.keySet.foreach { q =>
      val (ne, na, nc, ov) = census(q)
      assert(ne == exact(q).size && na == approx(q).size,
        s"query $q: census set sizes diverge from the packs")
      assert(nc == (exact(q) & approx(q)).size,
        s"query $q: census intersection diverges")
      val want = math.floor(nc.toDouble / math.max(ne, 1L).toDouble
        * 10000.0 + 0.5) / 10000.0
      assert(math.abs(ov - want) < 1e-9, s"query $q: overlap arithmetic")
      assert(ov >= 0.0 && ov <= 1.0)
    }
    // the approximation changes WHICH docs ship, never the budget law:
    // cum_tokens is the running dl sum in fused order and never
    // exceeds the budget (prefix rule — no skip-and-fill knapsack).
    // THUNKED: each pack must construct AND collect before the other
    // constructs — both rebuild the same temp lexical layout, so an
    // eagerly-built Seq of frames would leave the first one reading
    // files the second build deleted.
    Seq(() => Similarity.q196ContextPack(spark, sfDir),
        () => Similarity.q199ContextPackApprox(spark, sfDir)).foreach { mk =>
      val rows = mk().collect()
      assert(rows.nonEmpty)
      rows.groupBy(_.getAs[Long]("query_id")).values.foreach { qr =>
        val inOrder = qr.sortBy(_.getAs[Long]("cum_tokens"))
        var run = 0L
        inOrder.foreach { r =>
          run += r.getAs[Long]("dl")
          assert(r.getAs[Long]("cum_tokens") == run,
            "cum_tokens must be the exact running dl sum")
        }
        assert(run <= Similarity.ContextBudget)
      }
    }
  }

  test("bm25ProbeAt: the lexical point-in-time probe answers exactly " +
    "what the pre-swap probe answered; the live pointer serves the " +
    "compacted generation; past retention it fails loudly") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val base = java.nio.file.Files.createTempDirectory("bm25gen").toString
    val docs = graft.core.Tables.documents(spark, sfDir)
    TextAnalysis.bm25IndexWrite(docs, s"$base/gen0")
    graft.core.Roots.publish(spark, base, "gen0")
    // tombstone some victims in gen0, freeze the pre-swap answer
    TextAnalysis.bm25Delete(
      docs.filter($"doc_id" % 7 === 3).select($"doc_id"),
      graft.core.Roots.current(spark, base))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    val preSwap = rows(TextAnalysis.bm25Probe(spark,
      graft.core.Roots.current(spark, base), TextAnalysis.Bm25Query))
    assert(preSwap.nonEmpty)
    // compact into gen1 and swap — the q173 lifecycle
    TextAnalysis.bm25Compact(spark, s"$base/gen0", s"$base/gen1")
    graft.core.Roots.publish(spark, base, "gen1")
    // point-in-time law (the PipelineOpsSpec ivfProbeAt law, lexical
    // side): probe@gen0 == the pre-swap probe, byte for byte — gen0's
    // postings, _stats rows, AND tombstone view are all immutable
    assert(rows(TextAnalysis.bm25ProbeAt(spark, base, "gen0",
      TextAnalysis.Bm25Query)) == preSwap,
      "probe@gen0 must equal the pre-swap probe")
    // the live pointer serves the compacted generation — same logical
    // index (tombstone view == compacted view), so same answer too
    assert(rows(TextAnalysis.bm25Probe(spark,
      graft.core.Roots.current(spark, base), TextAnalysis.Bm25Query))
      == preSwap)
    assert(rows(TextAnalysis.bm25ProbeAt(spark, base, "gen1",
      TextAnalysis.Bm25Query)) == preSwap)
    // retention: keepLatest=2 keeps gen0 probe-able; 1 retires it
    assert(graft.core.Roots.retire(spark, base, keepLatest = 2).isEmpty)
    assert(rows(TextAnalysis.bm25ProbeAt(spark, base, "gen0",
      TextAnalysis.Bm25Query)).nonEmpty)
    assert(graft.core.Roots.retire(spark, base, keepLatest = 1)
      == Seq("gen0"))
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25ProbeAt(spark, base, "gen0", TextAnalysis.Bm25Query)
    }
  }
}
