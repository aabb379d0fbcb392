package graft

import graft.streaming.{AnomalyStream, Replay}
import graft.streaming.AnomalyStream.{Event, Hit}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkTestBase {

  import graft.operators.Similarity.{IvfCodec, IvfLayout}
  private val FullIvf = IvfLayout(tenants = false, IvfCodec.Full)
  private val TenantIvf = IvfLayout(tenants = true, IvfCodec.Full)
  private val PqIvf = IvfLayout(tenants = false, IvfCodec.Pq)

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("corpus filters are pure projections: the SAME batch transform + " +
    "watermark dedup runs on a stream") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // (doc_id, text, n_chars, ts) — the documents shape as a stream
    val input = MemoryStream[(Long, String, Long, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "n_chars", "ts")
    val cleaned = graft.operators.TextAnalysis.corpusFilterCols(docs)
      .filter(col("quality") >= 0.5 && col("rep_keep"))
      .withColumn("fp", md5(col("text")))
      .withWatermark("ts", "1 minutes")
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "text")
    val q = cleaned.writeStream.outputMode("append")
      .format("memory").queryName("corpus_stream").start()
    try {
      val good = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val spam = Seq.fill(40)("spam").mkString(" ")
      input.addData(
        (1L, good, good.length.toLong, ts(0)),
        (2L, spam, spam.length.toLong, ts(1)),   // repetition-rejected
        (3L, good, good.length.toLong, ts(2)),   // duplicate of 1 in-watermark
        (4L, "hi", 2L, ts(3)))                   // 1-token doc: must not crash
      q.processAllAvailable()
      val out = spark.table("corpus_stream").collect()
      // exactly ONE of the two identical docs survives (which one is
      // batch-internal arrival order, not contract) and the spam none
      assert(out.length == 1 &&
        Set(1L, 3L).contains(out.head.getAs[Long]("doc_id")) &&
        out.head.getAs[String]("text") == good,
        s"expected one good doc, spam filtered, dup deduped: ${out.toSeq}")
    } finally q.stop()
  }

  test("normalize + pii redact are stateless projections: run unchanged " +
    "on a stream") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val norm = graft.operators.TextAnalysis.normalizeText($"text")
    val out = input.toDF().toDF("doc_id", "text")
      .select($"doc_id", norm.as("cleaned"),
        graft.ops.text.Pii.redact(norm).as("redacted"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("norm_stream").start()
    try {
      input.addData((1L, "mail a@b.com  now"), (2L, "cafe\u0301  x"))
      q.processAllAvailable()
      val rows = spark.table("norm_stream").orderBy("doc_id").collect()
      assert(rows(0).getString(2) == "mail [EMAIL] now", rows(0).toString)
      assert(rows(1).getString(1) == "café x", rows(1).toString)
    } finally q.stop()
  }

  test("windowed stats stream: watermark closes windows, late rows dropped") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = AnomalyStream.windowedStats(input.toDF(),
        watermark = "1 minutes", window_ = "1 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("winstats").start()
    try {
      // batch 1: two windows of data, advancing event time far enough
      input.addData(
        Event(1, ts(10), 1, "click", 1.0),
        Event(2, ts(20), 1, "click", 3.0),
        Event(3, ts(70), 2, "click", 5.0))
      q.processAllAvailable()
      // batch 2: advance watermark past window [0,60); then a LATE row
      input.addData(Event(4, ts(400), 1, "click", 7.0))
      q.processAllAvailable()
      input.addData(Event(5, ts(15), 9, "click", 100.0)) // late: dropped
      input.addData(Event(6, ts(500), 1, "click", 9.0))
      q.processAllAvailable()
      val rows = spark.table("winstats").collect()
      val w0 = rows.find(_.getAs[java.sql.Timestamp]("window_start")
        .getTime == 0L)
      assert(w0.isDefined, s"window [0,60) must have emitted: ${rows.toSeq}")
      assert(w0.get.getAs[Long]("n") == 2L,
        "late row must NOT be counted in the closed window")
      assert(w0.get.getAs[Double]("total") == 4.0)
    } finally q.stop()
  }

  test("streaming sessionize: watermark-closed sessions reproduce the " +
    "batch census, including the exact-gap boundary") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // shared fixture (seconds): user 1 holds one session across an
    // EXACTLY-30-minute silence (batch rule: strictly-longer opens) and
    // then breaks on 30min+1s; user 2 is a singleton session; events
    // arrive across two micro-batches in event-time order
    def ev(id: Long, sec: Long, uid: Long, v: Double) =
      Event(id, ts(sec), uid, "click", v)
    // global event-time order across batches: the watermark is global,
    // so a cross-user out-of-order arrival in a later batch would drop
    // as late — the same arrival contract the other detectors document
    val fixture = Seq(
      ev(1, 0, 1, 1.25), ev(5, 100, 2, 0.75), ev(2, 900, 1, 2.50),
      ev(3, 2700, 1, 4.00),  // gap == 1800s: SAME session
      ev(4, 4501, 1, 8.00))  // gap 1801s: new session
    val batchFacts = graft.operators.Relational.sessionize(
        fixture.toDF().select($"user_id", $"event_id",
          unix_micros($"ts").as("us"), $"value"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events"),
        r.getAs[Double]("total_value"))).toSet
    assert(batchFacts.size == 3, s"fixture must yield 3 sessions: $batchFacts")

    val input = MemoryStream[Event]
    val q = AnomalyStream.sessionizeStream(input.toDF(),
        watermark = "1 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_stream").start()
    try {
      val (b1, b2) = fixture.splitAt(3)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      // two sentinel batches: the first advances the watermark past
      // every fixture session's close, the second triggers the batch
      // in which the state store actually evicts and emits them
      input.addData(ev(90, 100000, 99, 0.0)); q.processAllAvailable()
      input.addData(ev(91, 200000, 99, 0.0)); q.processAllAvailable()
      val streamed = spark.table("sess_stream")
        .filter($"user_id" < 99).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("end_us"), r.getAs[Long]("n_events"),
          r.getAs[Double]("total_value"))).toSet
      assert(streamed == batchFacts,
        s"stream ${streamed.toSeq.sorted} vs batch ${batchFacts.toSeq.sorted}")
    } finally q.stop()
  }

  test("streaming z-score detector: flags the planted outlier, keeps state across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = AnomalyStream.zscoreDetector(input.toDS(), k = 3.0, minN = 10)
      .writeStream.outputMode("append")
      .format("memory").queryName("zhits").start()
    try {
      // batch 1: 20 normal observations (value ~ 10 +- 1)
      input.addData((1 to 20).map(i =>
        Event(i, ts(i * 10), 1, "click", 10.0 + (i % 3) - 1)): _*)
      q.processAllAvailable()
      assert(spark.table("zhits").count() == 0, "no outliers yet")
      // batch 2: a wild outlier + one normal
      input.addData(Event(100, ts(2000), 1, "click", 50.0),
        Event(101, ts(2010), 1, "click", 10.0))
      q.processAllAvailable()
      val hits = spark.table("zhits").as[Hit].collect()
      assert(hits.map(_.event_id).toSet == Set(100L),
        s"exactly the planted outlier: ${hits.toSeq}")
      assert(hits.head.z > 3.0)
    } finally q.stop()
  }

  test("replay: ascending order, pruned per-offset batches, pacing preserved") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("replay").toString + "/data"
    // write partitions out of order to prove replay sorts
    Seq((3, "c"), (4, "d")).toDF("id", "payload").withColumn("t", lit(2.5))
      .union(Seq((1, "a")).toDF("id", "payload").withColumn("t", lit(0.5)))
      .union(Seq((2, "b")).toDF("id", "payload").withColumn("t", lit(1.5)))
      .write.partitionBy("t").parquet(base)

    val sent = scala.collection.mutable.ArrayBuffer.empty[(Double, Set[String])]
    val t0 = System.nanoTime()
    val log = Replay.replay(spark, base, speedup = 5.0) { (df, t) =>
      sent += ((t, df.select("payload").collect().map(_.getString(0)).toSet))
    }
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(log.map(_._1) == Seq(0.5, 1.5, 2.5), "ascending t order")
    assert(log.map(_._2) == Seq(1L, 1L, 2L))
    assert(sent.map(_._2) == Seq(Set("a"), Set("b"), Set("c", "d")))
    // total gaps = 2.5s at speedup 5 => ~500ms of sleeping minimum
    assert(elapsedMs >= 450, s"pacing must wait, took ${elapsedMs}ms")

    // kafka message shaping (producer wiring minus the broker)
    val kdf = Replay.toKafkaJson(
      Seq((1, "a")).toDF("id", "payload").withColumn("t", lit(0.5)), "id")
    val row = kdf.head()
    assert(kdf.columns.toSeq == Seq("key", "value"))
    assert(row.getString(0) == "1")
    assert(row.getString(1).contains("\"payload\":\"a\""))
    // reference default: per-message uuid4 keys
    val urow = Replay.toKafkaJson(
      Seq((1, "a")).toDF("id", "payload"), null).head()
    assert(urow.getString(0).matches(
      "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
  }

  test("welford aggregator matches builtin moments, merges across partitions") {
    import spark.implicits._
    import graft.ops.anomaly.WelfordAggregator
    val ev = graft.core.Tables.events(spark, sfDir)
    val vals = ev.select($"value").as[Double].repartition(7) // force merge
    val w = vals.select(WelfordAggregator.stats).head()
    val ref = ev.agg(avg($"value"), stddev_pop($"value"), count(lit(1)))
      .head()
    assert(w.n == ref.getLong(2))
    assert(math.abs(w.mean - ref.getDouble(0)) < 1e-9)
    assert(math.abs(w.stddev - ref.getDouble(1)) < 1e-9)
    // stability: huge offset, tiny variance — naive sum-of-squares dies
    val shifted = vals.map(_ + 1e9)
    val ws = shifted.select(WelfordAggregator.stats).head()
    assert(math.abs(ws.stddev - w.stddev) < 1e-3,
      s"stddev must survive a 1e9 offset: ${ws.stddev} vs ${w.stddev}")
  }

  test("stream-stream join: clicks enrich with errors inside the time bound") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Event]
    val errors = MemoryStream[Event]
    val joined = AnomalyStream.clickErrorJoin(
      clicks.toDF(), errors.toDF(), horizon = "30 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin").start()
    try {
      clicks.addData(Event(1, ts(100), 1, "click", 0))
      errors.addData(Event(50, ts(80), 1, "error", 0))   // within 30s
      errors.addData(Event(51, ts(10), 1, "error", 0))   // too old
      clicks.addData(Event(2, ts(500), 9, "click", 0))   // advance wm
      errors.addData(Event(52, ts(500), 8, "error", 0))
      q.processAllAvailable()
      val rows = spark.table("ssjoin").collect()
      assert(rows.map(r => (r.getAs[Long]("click_id"),
        r.getAs[Long]("err_id"))).toSet == Set((1L, 50L)),
        s"only the in-window pair joins: ${rows.toSeq}")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: unmatched clicks emit nulls at eviction") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Event]
    val errors = MemoryStream[Event]
    val joined = AnomalyStream.clickErrorJoin(
      clicks.toDF(), errors.toDF(), horizon = "30 seconds",
      joinType = "left_outer")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssouter").start()
    try {
      clicks.addData(Event(1, ts(100), 1, "click", 0)) // has an error
      errors.addData(Event(50, ts(80), 1, "error", 0))
      clicks.addData(Event(2, ts(110), 2, "click", 0)) // user 2: NO error
      q.processAllAvailable()
      // outer rows must NOT emit while a qualifying error could still
      // arrive — click 2 is withheld until the watermark passes it
      def snapshot() = spark.table("ssouter").collect().map { r =>
        (r.getAs[Long]("click_id"),
          if (r.isNullAt(r.fieldIndex("err_id"))) None
          else Some(r.getAs[Long]("err_id")))
      }.toSet
      assert(!snapshot().exists(_._1 == 2L),
        s"click 2 must be withheld until eviction: ${snapshot()}")
      // advance BOTH watermarks far past click 2 + horizon, twice —
      // outer results emit on the batch after state eviction
      clicks.addData(Event(3, ts(1000), 9, "click", 0))
      errors.addData(Event(60, ts(1000), 8, "error", 0))
      q.processAllAvailable()
      clicks.addData(Event(4, ts(1100), 9, "click", 0))
      errors.addData(Event(61, ts(1100), 8, "error", 0))
      q.processAllAvailable()
      assert(snapshot().contains((1L, Some(50L))), s"matched pair: ${snapshot()}")
      assert(snapshot().contains((2L, None)),
        s"unmatched click emits with null err columns: ${snapshot()}")
      // an error for click 2 arriving AFTER eviction is late by the
      // watermark contract: no retroactive match appears
      errors.addData(Event(70, ts(115), 2, "error", 0))
      q.processAllAvailable()
      assert(!snapshot().contains((2L, Some(70L))),
        s"late error must not retro-match an evicted click: ${snapshot()}")
    } finally q.stop()
  }

  test("session windows: gap-based sessionization with watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = input.toDF()
      .withWatermark("ts", "1 minutes")
      .groupBy(session_window($"ts", "30 seconds"), $"user_id")
      .agg(count(lit(1)).as("n"), sum($"value").as("total"))
      .select($"session_window.start".as("start"),
        $"session_window.end".as("end"), $"user_id", $"n", $"total")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      // user 1: events at t=0,20,40 chain one session (gaps < 30s);
      // then t=200 starts a new session; advance watermark via t=600
      input.addData(
        Event(1, ts(0), 1, "click", 1.0), Event(2, ts(20), 1, "click", 1.0),
        Event(3, ts(40), 1, "click", 1.0), Event(4, ts(200), 1, "click", 5.0))
      q.processAllAvailable()
      input.addData(Event(9, ts(600), 2, "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .filter($"user_id" === 1).collect()
      assert(rows.length == 2, s"two sessions expected: ${rows.toSeq}")
      val first = rows.minBy(_.getAs[java.sql.Timestamp]("start").getTime)
      assert(first.getAs[Long]("n") == 3)
      // session extends 30s past the last event
      assert(first.getAs[java.sql.Timestamp]("end").getTime == 70000L)
    } finally q.stop()
  }

  test("streaming dedup: duplicate payloads within the watermark emit once") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = AnomalyStream.dedupStream(
        input.toDF().toDF("ts", "text"), "text", "ts", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData((ts(10), "doc A"), (ts(20), "doc B"), (ts(30), "doc A"))
      q.processAllAvailable()
      // same payload again in a later batch, still inside the horizon
      input.addData((ts(40), "doc A"), (ts(50), "doc C"))
      q.processAllAvailable()
      val texts = spark.table("dedup_out").collect()
        .map(_.getAs[String]("text")).toSeq
      assert(texts.sorted == Seq("doc A", "doc B", "doc C"),
        s"each payload exactly once: $texts")
    } finally q.stop()
  }

  test("ewma detector: adapts to level shift where all-history stats lag") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = AnomalyStream.ewmaDetector(input.toDS(), alpha = 0.3,
        k = 3.0, minN = 10)
      .writeStream.outputMode("append")
      .format("memory").queryName("ewma_hits").start()
    try {
      // regime 1 around 10, then a level shift to 50 held long enough
      // for EWMA to adapt, then a spike relative to the NEW level
      input.addData((1 to 15).map(i =>
        Event(i, ts(i * 10), 1, "c", 10.0 + (i % 3) - 1)): _*)
      q.processAllAvailable()
      input.addData((16 to 40).map(i =>
        Event(i, ts(i * 10), 1, "c", 50.0 + (i % 3) - 1)): _*)
      q.processAllAvailable()
      input.addData(Event(100, ts(2000), 1, "c", 90.0))
      q.processAllAvailable()
      val ids = spark.table("ewma_hits").collect()
        .map(_.getAs[Long]("event_id")).toSet
      // the shift start is flagged (it IS anomalous vs regime 1) and
      // the later spike is flagged vs the ADAPTED baseline
      assert(ids.contains(100L), s"spike vs adapted baseline: $ids")
      assert(ids.contains(16L), s"level-shift onset flagged: $ids")
    } finally q.stop()
  }

  test("checkpoint recovery: detector state survives a query restart") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ckpt").toString
    val input = MemoryStream[Event]
    // memory sink cannot recover; the file sink checkpoints offsets +
    // operator state
    def start() = AnomalyStream.zscoreDetector(input.toDS(), k = 3.0, minN = 10)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$base/ckpt")
      .format("parquet").option("path", s"$base/out").start()

    val q1 = start()
    // 20 calm observations build the state, then STOP the query
    input.addData((1 to 20).map(i =>
      Event(i, ts(i * 10), 1, "click", 10.0 + (i % 3) - 1)): _*)
    q1.processAllAvailable()
    q1.stop()

    // restart from the checkpoint: the outlier must be judged against
    // the RECOVERED mean/variance, not a cold state (minN would
    // suppress it if state were lost)
    val q2 = start()
    input.addData(Event(100, ts(2000), 1, "click", 55.0))
    q2.processAllAvailable()
    val hits = spark.read.parquet(s"$base/out").collect()
    assert(hits.map(_.getAs[Long]("event_id")).toSet == Set(100L),
      s"outlier must be flagged from recovered state: ${hits.toSeq}")
    q2.stop()
  }

  test("scorers: kmeans/pca/zscore all emit the anomaly_score contract") {
    import graft.ops.anomaly.Scorers
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val km = Scorers.kmeansDistance(emb, "embedding", k = 4)
    assert(km.columns.contains("anomaly_score"))
    assert(km.filter(col("anomaly_score") < 0).count() == 0)
    val pca = Scorers.pcaReconstructionError(emb, "embedding", k = 8)
    assert(pca.columns.contains("anomaly_score"))
    assert(pca.filter(col("anomaly_score") < 0).count() == 0)
    // z-score scorer on events flags the same global outliers as q32
    val ev = graft.core.Tables.events(spark, sfDir)
    val scored = Scorers.zscore(ev, "value", Seq("event_type"))
    val flagged = scored.filter(col("anomaly_score") > 3).count()
    val q32 = graft.operators.Anomaly.q32ZScore(spark, sfDir).count()
    assert(flagged == q32,
      s"batch scorer ($flagged) and exact-arithmetic q32 ($q32) must agree")
  }

  test("streaming heavy hitters: exact in the sub-capacity regime, " +
    "MG undercount bound under pressure, state merges across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AnomalyStream
    import AnomalyStream.{HeavyHit, LangTok}
    val rnd = new scala.util.Random(5)
    val vocabEn = Array("aa", "bb", "cc", "dd", "ee", "ff")
    val batch1 = (1 to 300).map(_ => LangTok("en", vocabEn(rnd.nextInt(3))))
    val batch2 = (1 to 300).map(_ => LangTok("en", vocabEn(rnd.nextInt(6))))

    // capacity far above distinct tokens → sketch is EXACT
    val inExact = MemoryStream[LangTok]
    val qe = AnomalyStream.heavyHittersStream(inExact.toDS(), 64, 10)
      .writeStream.outputMode("append").format("memory")
      .queryName("hh_exact").start()
    try {
      inExact.addData(batch1); qe.processAllAvailable()
      inExact.addData(batch2); qe.processAllAvailable()
      val snaps = spark.table("hh_exact").as[HeavyHit].collect()
      val last = snaps.filter(_.seen == snaps.map(_.seen).max)
      val truth = (batch1 ++ batch2).groupBy(_.tok)
        .view.mapValues(_.size.toLong).toMap
      last.foreach(h => assert(h.cnt == truth(h.tok),
        s"${h.tok}: ${h.cnt} != ${truth(h.tok)}"))
      assert(last.map(_.tok).toSet ==
        truth.toSeq.sortBy { case (t, c) => (-c, t) }.take(10)
          .map(_._1).toSet)
    } finally qe.stop()

    // capacity 2 under 6 distinct → undercount bounded by seen/(cap+1)
    val inTight = MemoryStream[LangTok]
    val qt = AnomalyStream.heavyHittersStream(inTight.toDS(), 2, 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("hh_tight").start()
    try {
      inTight.addData(batch1); qt.processAllAvailable()
      inTight.addData(batch2); qt.processAllAvailable()
      val snaps = spark.table("hh_tight").as[HeavyHit].collect()
      val seen = snaps.map(_.seen).max
      val truth = (batch1 ++ batch2).groupBy(_.tok)
        .view.mapValues(_.size.toLong).toMap
      snaps.filter(_.seen == seen).foreach { h =>
        assert(truth(h.tok) - h.cnt <= seen / 3,
          s"${h.tok}: undercount ${truth(h.tok) - h.cnt} > ${seen / 3}")
      }
    } finally spark.streams.active.foreach(_.stop())
  }

  test("streaming funnel: depth transitions fire once, state survives " +
    "micro-batch boundaries, window abandons stall") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AnomalyStream
    import AnomalyStream.{Event, FunnelHit}
    val input = MemoryStream[Event]
    val q = AnomalyStream.funnelDetector(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_stream").start()
    try {
      val H = 3600L // 1 h in seconds; window is 4 h
      // user 1 converts fully in one batch; user 2's click misses the
      // window (stalls at depth 1)
      input.addData(
        Event(1, ts(0), 1, "view", 0),
        Event(2, ts(H), 1, "click", 0),
        Event(3, ts(2 * H), 1, "purchase", 0),
        Event(4, ts(0), 2, "view", 0),
        Event(5, ts(10 * H), 2, "click", 0))
      q.processAllAvailable()
      // user 3 spans batches: first view expires, a LATER view converts
      // (greedy most-recent-view state) — and depth 1 must not re-fire
      input.addData(
        Event(6, ts(0), 3, "view", 0),
        Event(7, ts(20 * H), 3, "view", 0))
      q.processAllAvailable()
      input.addData(
        Event(8, ts(21 * H), 3, "click", 0),
        Event(9, ts(22 * H), 3, "purchase", 0))
      q.processAllAvailable()
      val hits = spark.table("funnel_stream").as[FunnelHit].collect()
      val byUser = hits.groupBy(_.user_id)
        .view.mapValues(_.map(_.depth).sorted.toSeq).toMap
      assert(byUser(1L) == Seq(1, 2, 3))
      assert(byUser(2L) == Seq(1), byUser.toString)
      assert(byUser(3L) == Seq(1, 2, 3), byUser.toString)
    } finally spark.streams.active.foreach(_.stop())
  }

  test("streaming SemDeDup: rep fixed at first arrival, near-dups dropped " +
    "across batches, distinct cells independent") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AnomalyStream
    import AnomalyStream.{SemDecision, Vec}
    val input = MemoryStream[Vec]
    val q = AnomalyStream.semDedupStream(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("semdedup_stream").start()
    try {
      // base: all 64 dims +0.1 → cell 255. ortho: same first-8 signs
      // (same cell) but the tail flips sign → cosine −0.75, kept.
      // other: dim 0 negative → cell 254, its own rep.
      val base = Array.fill(64)(0.1f)
      val near = base.clone(); near(63) = 0.11f // cos ≈ 1 → dropped
      val ortho = Array.tabulate(64)(i => if (i < 8) 0.1f else -0.1f)
      val other = Array.tabulate(64)(i => if (i == 0) -0.1f else 0.1f)
      input.addData(Vec(1, base), Vec(2, near), Vec(3, ortho))
      q.processAllAvailable()
      // batch 2: the cell-255 rep must still be vec 1 (state), so a
      // new near-dup drops; a first arrival in cell 254 becomes rep;
      // a zero-norm vector (undefined cosine) must be KEPT with a
      // null cos_rep — and must not crash the query (BigDecimal(NaN))
      input.addData(Vec(4, near), Vec(5, other),
        Vec(6, Array.fill(64)(0.0f)))
      q.processAllAvailable()
      val d = spark.table("semdedup_stream").as[SemDecision].collect()
        .map(r => r.vec_id -> r).toMap
      assert(d(1).kept && d(1).rep == 1 && d(1).cos_rep.isEmpty)
      assert(!d(2).kept && d(2).rep == 1 && d(2).cos_rep.get > 0.99)
      assert(d(3).kept && d(3).rep == 1 && d(3).cos_rep.get < 0.25,
        d(3).toString) // same cell, dissimilar → kept
      assert(!d(4).kept && d(4).rep == 1, "state must survive the batch " +
        "boundary: vec 4 compares against the batch-1 rep")
      assert(d(5).kept && d(5).rep == 5 && d(5).cell != d(1).cell)
      assert(d(6).kept && d(6).rep == 1 && d(6).cos_rep.isEmpty,
        "zero-norm vector: kept, null cos_rep, no crash")
    } finally spark.streams.active.foreach(_.stop())
  }

  // The arrival-fixed representative makes keep/drop depend on where
  // micro-batch boundaries fall BY DESIGN (a stream cannot know the
  // global min id): re-slicing the same events can elect a different
  // rep and flip members' decisions. This case pins both halves of the
  // contract — the slicing-INDEPENDENT invariants (one decision per
  // vector, rep kept, rep never changes once set) and a concrete
  // slicing-DEPENDENT divergence, so the semantics is a documented
  // measured fact rather than an accident.
  test("semDedupStream: re-slicing the same events changes the rep by design, " +
    "while per-vector decision uniqueness and rep stability hold") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AnomalyStream
    import AnomalyStream.{SemDecision, Vec}
    // one cell (same first-8 signs): v7 = base, v10 ≈ base (near-dup),
    // v5 = tail-flipped (cos ≈ −0.75 to both — dissimilar, same cell)
    val base = Array.fill(64)(0.1f)
    val near = base.clone(); near(63) = 0.11f
    val flip = Array.tabulate(64)(i => if (i < 8) 0.1f else -0.1f)
    def run(name: String)(feed: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Vec]
        => org.apache.spark.sql.streaming.StreamingQuery => Unit): Map[Long, SemDecision] = {
      val input = MemoryStream[Vec]
      val q = AnomalyStream.semDedupStream(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try feed(input)(q) finally spark.streams.active.foreach(_.stop())
      spark.table(name).as[SemDecision].collect().map(r => r.vec_id -> r).toMap
    }
    // slicing A: all three in ONE batch — in-batch tie-break sorts by
    // vec_id, so v5 (lowest id) becomes rep; both others are dissimilar
    val a = run("semdedup_slice_a") { input => q =>
      input.addData(Vec(10, near), Vec(5, flip), Vec(7, base))
      q.processAllAvailable()
    }
    // slicing B: v10 arrives alone first — it is the rep; v7 is now a
    // near-dup OF THE REP and drops, v5 stays dissimilar-kept
    val b = run("semdedup_slice_b") { input => q =>
      input.addData(Vec(10, near)); q.processAllAvailable()
      input.addData(Vec(5, flip), Vec(7, base)); q.processAllAvailable()
    }
    // slicing-independent invariants
    for (d <- Seq(a, b)) {
      assert(d.keySet == Set(5L, 7L, 10L), "exactly one decision per vector")
      val rep = d.values.head.rep
      assert(d.values.forall(_.rep == rep), "rep never changes once set")
      assert(d(rep).kept && d(rep).cos_rep.isEmpty, "the rep itself is kept")
    }
    // the designed divergence: a different slicing elected a different
    // rep, and v7's decision flipped with it
    assert(a.values.head.rep == 5L && b.values.head.rep == 10L)
    assert(a(7).kept, "slicing A: v7 vs dissimilar rep v5 → kept")
    assert(!b(7).kept && b(7).cos_rep.get > 0.99,
      "slicing B: v7 vs near-dup rep v10 → dropped")
    assert(a(10).kept && b(5).kept, "dissimilar members kept in both")
    // replay of the SAME slicing is deterministic (in-batch id sort)
    val a2 = run("semdedup_slice_a2") { input => q =>
      input.addData(Vec(10, near), Vec(5, flip), Vec(7, base))
      q.processAllAvailable()
    }
    assert(a2.view.mapValues(d => (d.rep, d.kept, d.cos_rep)).toMap ==
      a.view.mapValues(d => (d.rep, d.kept, d.cos_rep)).toMap)
  }

  test("distinctStream: KMV state is slicing-invariant and the final " +
    "snapshot equals the batch bottom_k_distinct aggregate") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AnomalyStream
    import AnomalyStream.{DistinctEst, KeyHash}
    // 300 distinct hashes for key "a" (with every value fed TWICE —
    // dedup must hold across the stream), 20 for key "b" (sub-k exact
    // regime); k=64 so "a" saturates the sketch
    val aVals = (1 to 300).map(i => i * 1000003L + 7L)
    val bVals = (1 to 20).map(i => i * 999983L + 5L)
    val rows = aVals.flatMap(v => Seq(KeyHash("a", v), KeyHash("a", v))) ++
      bVals.map(v => KeyHash("b", v))
    def run(name: String, slices: Seq[Seq[KeyHash]]): Map[String, DistinctEst] = {
      val input = MemoryStream[KeyHash]
      val q = AnomalyStream.distinctStream(input.toDS(), k = 64)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s: _*); q.processAllAvailable() }
      finally spark.streams.active.foreach(_.stop())
      // latest snapshot per key = max seen (the documented contract)
      spark.table(name).as[DistinctEst].collect()
        .groupBy(_.key).view.mapValues(_.maxBy(_.seen)).toMap
    }
    val oneShot = run("kmv_one", Seq(rows))
    val sliced = run("kmv_sliced",
      Seq(rows.take(100), rows.slice(100, 170), rows.drop(170)))
    // the KMV set is a pure function of the hash SET: any re-slicing
    // of the same rows lands on the identical final estimate
    for (k <- Seq("a", "b"))
      assert((oneShot(k).sketch_size, oneShot(k).n_est) ==
        (sliced(k).sketch_size, sliced(k).n_est), s"key $k diverged")
    // sub-k regime is exact; saturated regime matches the closed form
    // over the true bottom-64 (duplicates absorbed into one slot each)
    assert(oneShot("b").sketch_size == 20 && oneShot("b").n_est == 20.0)
    val h64 = aVals.sorted.apply(63)
    assert(oneShot("a").sketch_size == 64)
    assert(oneShot("a").n_est == 63.0 * 1152921504606846976.0 / h64)
    assert(oneShot("a").seen == 600 && oneShot("b").seen == 20)
    // and the stream's final sketch equals the BATCH aggregate's
    val batch = rows.toDF("key", "hv").groupBy($"key")
      .agg(graft.functions.geo.bottom_k_distinct($"hv", 64).as("bk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(batch("a").length == 64 && batch("a").last == h64)
    assert(batch("b").toSeq == bVals.sorted)
  }

  test("streaming retention: cohort fixed at first activity, each week " +
    "offset emits once, state survives micro-batch boundaries") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AnomalyStream
    import AnomalyStream.{Event, RetentionHit}
    val input = MemoryStream[Event]
    val q = AnomalyStream.retentionDetector(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("retention_stream").start()
    try {
      val W = 7L * 86400L // one week in seconds
      // epoch sec 4*86400 = Mon 1970-01-05; user 1 starts there
      val mon = 4L * 86400L
      input.addData(
        Event(1, ts(mon), 1, "view", 0),
        Event(2, ts(mon + 3600), 1, "click", 0)) // same week: no re-emit
      q.processAllAvailable()
      input.addData(
        Event(3, ts(mon + W), 1, "view", 0),      // offset 1
        Event(4, ts(mon + 3 * W), 1, "view", 0),  // offset 3 (skip 2)
        Event(5, ts(mon + W), 2, "view", 0))      // user 2 cohort = week 1
      q.processAllAvailable()
      input.addData(
        Event(6, ts(mon + 3 * W + 60), 1, "view", 0), // offset 3 again
        Event(7, ts(mon + 2 * W), 2, "view", 0))      // user 2 offset 1
      q.processAllAvailable()
      val hits = spark.table("retention_stream").as[RetentionHit].collect()
      val byUser = hits.groupBy(_.user_id)
        .view.mapValues(_.map(h => (h.cohort_day, h.week_offset))
          .sorted.toSeq).toMap
      val d1 = 4L // user 1's cohort Monday as epoch day
      assert(byUser(1L) == Seq((d1, 0L), (d1, 1L), (d1, 3L)),
        byUser.toString)
      assert(byUser(2L) == Seq((d1 + 7L, 0L), (d1 + 7L, 1L)),
        byUser.toString)
    } finally spark.streams.active.foreach(_.stop())
  }

  test("streaming transitions: per-user last-event state emits each " +
    "consecutive pair across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AnomalyStream
    import AnomalyStream.{Event, Transition}
    val input = MemoryStream[Event]
    val q = AnomalyStream.transitionDetector(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("transition_stream").start()
    try {
      input.addData(
        Event(1, ts(10), 1, "view", 0),
        Event(2, ts(20), 1, "click", 0),
        Event(3, ts(10), 2, "view", 0))
      q.processAllAvailable()
      // cross-batch: user 1's purchase pairs with the click from the
      // PREVIOUS batch; user 2's error pairs with its view
      input.addData(
        Event(4, ts(30), 1, "purchase", 0),
        Event(5, ts(40), 2, "error", 0))
      q.processAllAvailable()
      val trans = spark.table("transition_stream").as[Transition].collect()
      val pairs = trans.map(t => (t.user_id, t.cur, t.nxt)).sorted.toSeq
      assert(pairs == Seq((1L, "click", "purchase"), (1L, "view", "click"),
        (2L, "view", "error")), pairs.toString)
      // census equals the batch q80 shape: count per (cur, nxt)
      val census = trans.groupBy(t => (t.cur, t.nxt))
        .view.mapValues(_.length).toMap
      assert(census == Map(("view", "click") -> 1,
        ("click", "purchase") -> 1, ("view", "error") -> 1))
    } finally spark.streams.active.foreach(_.stop())
  }

  test("micros: pre-epoch timestamps keep event order (floorDiv, not " +
    "truncating division)") {
    import graft.streaming.AnomalyStream.micros
    def t(ms: Long, nanos: Int = 0): java.sql.Timestamp = {
      val x = new java.sql.Timestamp(ms)
      if (nanos != 0) x.setNanos(nanos)
      x
    }
    // -0.5 s: truncating division yielded +500000us (after the epoch!),
    // inverting order against -1 s and 0 s neighbors
    assert(micros(t(-500)) == -500000L)
    assert(micros(t(-1000)) == -1000000L)
    assert(micros(t(0)) == 0L)
    assert(micros(t(-500)) > micros(t(-1000)) && micros(t(-500)) < 0L)
    // post-epoch values unchanged, sub-ms nanos still add forward
    assert(micros(t(1500)) == 1500000L)
    val withNanos = t(-1000, 250000000) // -1s + 0.25s = -0.75s
    assert(micros(withNanos) == -750000L)
  }

  test("attributionStream: stream-stream interval join emits exactly " +
    "the batch pair set, slicing-invariant, boundaries inclusive") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AnomalyStream
    import AnomalyStream.Event
    // +1 day: an event time of exactly epoch 0 sits AT the initial
    // watermark and the join's late-row filter drops it — a fixture
    // artifact, not operator behavior worth pinning
    def t(min: Long) = new java.sql.Timestamp((min + 1440) * 60000L)
    val evs = Seq(
      Event(1, t(0), 1, "click", 0.0),
      Event(2, t(30), 1, "purchase", 9.5),   // ← click 1 (30 min)
      Event(3, t(45), 1, "click", 0.0),
      Event(4, t(50), 1, "purchase", 1.0),   // ← clicks 1 (50m) AND 3 (5m)
      Event(6, t(10), 2, "click", 0.0),
      Event(7, t(80), 2, "purchase", 3.0),   // 70 min gap → no pair
      Event(8, t(100), 2, "click", 0.0),
      Event(9, t(100), 2, "purchase", 4.0),  // zero lag: inclusive bound
      Event(5, t(200), 1, "purchase", 2.0)   // no click within the hour
    )
    def run(name: String, slices: Seq[Seq[Event]]): Set[(Long, Long, Long, Long)] = {
      val input = MemoryStream[Event]
      val q = AnomalyStream.attributionStream(input.toDF())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s: _*); q.processAllAvailable() }
      finally spark.streams.active.foreach(_.stop())
      spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    }
    val expected = Set(
      (2L, 1L, 1L, 1800000000L),
      (4L, 1L, 1L, 3000000000L), (4L, 1L, 3L, 300000000L),
      (9L, 2L, 8L, 0L))
    val one = run("attr_one", Seq(evs))
    assert(one == expected, s"got $one")
    // a different micro-batch cut over the same ordered events emits
    // the identical pair set (state holds clicks across the boundary)
    val sliced = run("attr_sliced", Seq(evs.take(4), evs.slice(4, 7),
      evs.drop(7)))
    assert(sliced == expected, s"sliced got $sliced")
    // and the batch spelling over the same rows agrees pair-for-pair
    val e = evs.toDF("event_id", "ts", "user_id", "event_type", "value")
    val c = e.filter($"event_type" === "click")
      .select($"user_id", unix_micros($"ts").as("cus"),
        $"event_id".as("click_id"))
    val p = e.filter($"event_type" === "purchase")
      .select($"user_id", unix_micros($"ts").as("pus"),
        $"event_id".as("purchase_id"))
    val batch = p.join(c, Seq("user_id"))
      .filter($"pus" - $"cus" >= 0L && $"pus" - $"cus" <= 3600000000L)
      .select($"purchase_id", $"user_id", $"click_id",
        ($"pus" - $"cus").as("lag_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(batch == expected)
  }

  test("cmsStream: slicing-invariant, row mass = seen, never undercounts, " +
    "JVM buckets match the q112 SQL device") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AnomalyStream
    import AnomalyStream.{CmsCells, LangTok}
    // skewed multiset over two keys: exact counts are known
    val toks = (1 to 200).map(i => LangTok("en", s"t${i % 13}")) ++
      (1 to 60).map(i => LangTok("fr", s"u${i % 7}"))
    def run(name: String, slices: Seq[Seq[LangTok]]): Map[String, CmsCells] = {
      val input = MemoryStream[LangTok]
      val q = AnomalyStream.cmsStream(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s: _*); q.processAllAvailable() }
      finally spark.streams.active.foreach(_.stop())
      spark.table(name).as[CmsCells].collect()
        .groupBy(_.lang).view.mapValues(_.maxBy(_.seen)).toMap
    }
    val one = run("cms_one", Seq(toks))
    val sliced = run("cms_sliced",
      Seq(toks.take(57), toks.slice(57, 130), toks.drop(130)))
    // cells are sums over the multiset — re-slicing cannot move a count
    for (k <- Seq("en", "fr")) {
      assert(one(k).seen == sliced(k).seen)
      assert(one(k).cells.sameElements(sliced(k).cells), s"$k diverged")
    }
    // each hash row distributes exactly the key's mass
    for ((_, st) <- one; r <- 0 until 4)
      assert(st.cells.slice(r * 64, (r + 1) * 64).sum == st.seen)
    // point queries never undercount the exact multiset counts
    toks.groupBy(identity).foreach { case (LangTok(l, t), g) =>
      assert(AnomalyStream.cmsEstimate(one(l).cells, t) >= g.size)
    }
    // the JVM md5 addressing is bit-identical to q112's SQL device
    val batch = toks.toDF("lang", "tok")
      .select($"lang", explode(array((0 until 4).map(r =>
        struct(lit(r).as("r"),
          (conv(substring(md5(concat(lit(s"$r:"), $"tok")), 1, 8), 16, 10)
            .cast("long") % 64).as("bkt"))): _*)).as("c"))
      .groupBy($"lang", $"c.r", $"c.bkt").count().collect()
    assert(batch.nonEmpty)
    batch.foreach { row =>
      val cells = one(row.getString(0)).cells
      assert(cells(row.getInt(1) * 64 + row.getLong(2).toInt) == row.getLong(3))
    }
  }

  test("discord stream: final snapshot equals batch discordCensus top-1 " +
    "over the same rows; slicing invariant; silent below two windows") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.DiscordHit
    implicit val sc = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    def run(slices: Seq[Seq[Event]]): Seq[DiscordHit] = {
      val input = MemoryStream[Event]
      val q = graft.streaming.AnomalyStream.discordStream(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("discords").start()
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      spark.table("discords").as[DiscordHit].collect().toSeq
    }
    val one = run(Seq(rows))
    val sliced = run(rows.grouped(rows.size / 3 + 1).toSeq)
    assert(one.nonEmpty && sliced.nonEmpty)
    val fin1 = one.maxBy(_.seen); val fin2 = sliced.maxBy(_.seen)
    assert(fin1.seen == rows.size.toLong && fin2.seen == rows.size.toLong)
    assert((fin1.win_start_h, fin1.score) == ((fin2.win_start_h, fin2.score)),
      "final discord must be slicing-invariant")
    // parity with the batch census's top-1 on identical rows
    val batch = graft.operators.Anomaly.discordCensus(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().head
    assert((fin1.win_start_h, fin1.score) ==
      ((batch.getLong(0), batch.getLong(1))),
      s"stream $fin1 vs batch (${batch.getLong(0)}, ${batch.getLong(1)})")
    // below two windows the detector stays silent rather than guessing
    val minH = rows.map(e =>
      graft.streaming.AnomalyStream.micros(e.ts) / 3600000000L).min
    val short = run(Seq(rows.filter(e =>
      graft.streaming.AnomalyStream.micros(e.ts) / 3600000000L < minH + 40)))
    assert(short.isEmpty)
  }

  test("cusum stream: final snapshot equals batch cusumCensus top-1 over " +
    "the same rows; slicing invariant") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.CusumHit
    implicit val sc = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    def run(name: String, slices: Seq[Seq[Event]]): Seq[CusumHit] = {
      val input = MemoryStream[Event]
      val q = graft.streaming.AnomalyStream.cusumStream(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[CusumHit].collect().toSeq
    }
    val one = run("cusum_a", Seq(rows))
    val sliced = run("cusum_b", rows.grouped(rows.size / 3 + 1).toSeq)
    assert(one.nonEmpty && sliced.nonEmpty)
    val fin1 = one.maxBy(_.seen); val fin2 = sliced.maxBy(_.seen)
    assert(fin1.seen == rows.size.toLong && fin2.seen == rows.size.toLong)
    assert((fin1.hour_h, fin1.cusum_scaled) ==
      ((fin2.hour_h, fin2.cusum_scaled)),
      "final CUSUM peak must be slicing-invariant")
    // parity with the batch census's top row on identical rows — the
    // streaming SEQUENTIAL recurrence against the batch closed form
    val batch = graft.operators.Anomaly.cusumCensus(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().head
    assert((fin1.hour_h, fin1.cusum_scaled) ==
      ((batch.getLong(0), batch.getLong(1))),
      s"stream $fin1 vs batch (${batch.getLong(0)}, ${batch.getLong(1)})")
  }

  test("holt stream: final snapshot equals batch holtWintersCensus top-1 " +
    "over the same rows; slicing invariant; silent below two periods") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.HoltHit
    implicit val sc = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    def run(name: String, slices: Seq[Seq[Event]]): Seq[HoltHit] = {
      val input = MemoryStream[Event]
      val q = graft.streaming.AnomalyStream.holtStream(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[HoltHit].collect().toSeq
    }
    val one = run("holt_a", Seq(rows))
    val sliced = run("holt_b", rows.grouped(rows.size / 3 + 1).toSeq)
    assert(one.nonEmpty && sliced.nonEmpty)
    val fin1 = one.maxBy(_.seen); val fin2 = sliced.maxBy(_.seen)
    assert(fin1.seen == rows.size.toLong && fin2.seen == rows.size.toLong)
    assert((fin1.hour_h, fin1.residual_scaled) ==
      ((fin2.hour_h, fin2.residual_scaled)),
      "final forecast-residual peak must be slicing-invariant")
    // parity with the batch census's top row on identical rows — the
    // streaming JVM recurrence against the batch in-row fold
    val batch = graft.operators.Anomaly.holtWintersCensus(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().head
    assert((fin1.hour_h, fin1.residual_scaled) ==
      ((batch.getLong(0), batch.getLong(1))),
      s"stream $fin1 vs batch (${batch.getLong(0)}, ${batch.getLong(1)})")
    // below two periods the model has no season to forecast from —
    // silent rather than guessing
    val minH = rows.map(e =>
      graft.streaming.AnomalyStream.micros(e.ts) / 3600000000L).min
    val short = run("holt_c", Seq(rows.filter(e =>
      graft.streaming.AnomalyStream.micros(e.ts) / 3600000000L < minH + 40)))
    assert(short.isEmpty)
  }

  test("episode stream: final snapshot equals batch episodeCensus top-1 " +
    "over the same rows; slicing invariant") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.EpisodeHit
    implicit val sc = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    def run(name: String, slices: Seq[Seq[Event]]): Seq[EpisodeHit] = {
      val input = MemoryStream[Event]
      val q = graft.streaming.AnomalyStream.episodeStream(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[EpisodeHit].collect().toSeq
    }
    val one = run("ep_a", Seq(rows))
    val sliced = run("ep_b", rows.grouped(rows.size / 3 + 1).toSeq)
    assert(one.nonEmpty && sliced.nonEmpty)
    val fin1 = one.maxBy(_.seen); val fin2 = sliced.maxBy(_.seen)
    assert(fin1.seen == rows.size.toLong && fin2.seen == rows.size.toLong)
    assert((fin1.start_h, fin1.len_h, fin1.excess_scaled) ==
      ((fin2.start_h, fin2.len_h, fin2.excess_scaled)),
      "final top episode must be slicing-invariant")
    val batch = graft.operators.Anomaly.episodeCensus(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().head
    assert((fin1.start_h, fin1.len_h, fin1.excess_scaled) ==
      ((batch.getLong(0), batch.getLong(1), batch.getLong(2))),
      s"stream $fin1 vs batch row $batch")
  }

  test("keyed holt stream: per-type final snapshots equal the batch q148 " +
    "rows over the same data; slicing invariant per key") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.KeyedHoltHit
    implicit val sc = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    def run(name: String, slices: Seq[Seq[Event]])
        : Map[String, KeyedHoltHit] = {
      val input = MemoryStream[Event]
      val q = graft.streaming.AnomalyStream.holtStreamByType(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[KeyedHoltHit].collect()
        .groupBy(_.event_type).map { case (k, hs) =>
          k -> hs.maxBy(_.seen) }
    }
    val one = run("kh_a", Seq(rows))
    val sliced = run("kh_b", rows.grouped(rows.size / 3 + 1).toSeq)
    assert(one.keySet == sliced.keySet && one.nonEmpty)
    one.keySet.foreach { k =>
      assert((one(k).hour_h, one(k).residual_scaled) ==
        ((sliced(k).hour_h, sliced(k).residual_scaled)),
        s"per-key peak must be slicing-invariant for $k")
    }
    // per-key parity with batch q148 on the SAME rows
    val batch = graft.operators.Anomaly.q148HoltByType(spark, sfDir)
      .collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(batch.keySet == one.keySet)
    batch.foreach { case (k, (h, r)) =>
      assert((one(k).hour_h, one(k).residual_scaled) == ((h, r)),
        s"stream snapshot for $k diverges from batch q148")
    }
  }

  test("keyed cusum stream: per-type final snapshots equal the batch " +
    "q155 rows over the same data; slicing invariant per key") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.KeyedCusumHit
    implicit val sc = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    def run(name: String, slices: Seq[Seq[Event]])
        : Map[String, KeyedCusumHit] = {
      val input = MemoryStream[Event]
      val q = graft.streaming.AnomalyStream.cusumStreamByType(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[KeyedCusumHit].collect()
        .groupBy(_.event_type).map { case (k, hs) => k -> hs.maxBy(_.seen) }
    }
    val one = run("kc_a", Seq(rows))
    val sliced = run("kc_b", rows.grouped(rows.size / 3 + 1).toSeq)
    assert(one.keySet == sliced.keySet && one.nonEmpty)
    one.keySet.foreach { k =>
      assert((one(k).hour_h, one(k).cusum_scaled) ==
        ((sliced(k).hour_h, sliced(k).cusum_scaled)),
        s"per-key CUSUM peak must be slicing-invariant for $k")
    }
    val batch = graft.operators.Anomaly.q155CusumByType(spark, sfDir)
      .collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(batch.keySet == one.keySet)
    batch.foreach { case (k, (h, c)) =>
      assert((one(k).hour_h, one(k).cusum_scaled) == ((h, c)),
        s"stream snapshot for $k diverges from batch q155")
    }
  }

  test("keyed episode stream: per-type final snapshots equal the batch " +
    "q156 rows over the same data; slicing invariant per key") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.KeyedEpisodeHit
    implicit val sc = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    def run(name: String, slices: Seq[Seq[Event]])
        : Map[String, KeyedEpisodeHit] = {
      val input = MemoryStream[Event]
      val q = graft.streaming.AnomalyStream.episodeStreamByType(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[KeyedEpisodeHit].collect()
        .groupBy(_.event_type).map { case (k, hs) => k -> hs.maxBy(_.seen) }
    }
    val one = run("ke_a", Seq(rows))
    val sliced = run("ke_b", rows.grouped(rows.size / 3 + 1).toSeq)
    assert(one.keySet == sliced.keySet && one.nonEmpty)
    one.keySet.foreach { k =>
      assert((one(k).start_h, one(k).len_h, one(k).excess_scaled) ==
        ((sliced(k).start_h, sliced(k).len_h, sliced(k).excess_scaled)),
        s"per-key top episode must be slicing-invariant for $k")
    }
    val batch = graft.operators.Anomaly.q156EpisodesByType(spark, sfDir)
      .collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(batch.keySet == one.keySet)
    batch.foreach { case (k, (h, len, ex)) =>
      assert((one(k).start_h, one(k).len_h, one(k).excess_scaled) ==
        ((h, len, ex)),
        s"stream snapshot for $k diverges from batch q156")
    }
  }

  test("keyed residual-cusum stream: per-type final snapshots equal the " +
    "batch q157 rows over the same data; slicing invariant per key; " +
    "silent below two periods") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.KeyedRcHit
    implicit val sc = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    def run(name: String, slices: Seq[Seq[Event]])
        : Map[String, KeyedRcHit] = {
      val input = MemoryStream[Event]
      val q = graft.streaming.AnomalyStream
        .residualCusumStreamByType(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[KeyedRcHit].collect()
        .groupBy(_.event_type).map { case (k, hs) => k -> hs.maxBy(_.seen) }
    }
    val one = run("krc_a", Seq(rows))
    val sliced = run("krc_b", rows.grouped(rows.size / 3 + 1).toSeq)
    assert(one.keySet == sliced.keySet && one.nonEmpty)
    one.keySet.foreach { k =>
      assert((one(k).hour_h, one(k).cusum_scaled) ==
        ((sliced(k).hour_h, sliced(k).cusum_scaled)),
        s"per-key residual-CUSUM peak must be slicing-invariant for $k")
    }
    val batch = graft.operators.Anomaly.q157ResidualCusumByType(spark, sfDir)
      .collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(batch.keySet == one.keySet)
    batch.foreach { case (k, (h, c)) =>
      assert((one(k).hour_h, one(k).cusum_scaled) == ((h, c)),
        s"stream snapshot for $k diverges from batch q157")
    }
    // below two periods every key stays silent rather than guessing
    val minH = rows.map(e =>
      graft.streaming.AnomalyStream.micros(e.ts) / 3600000000L).min
    val short = run("krc_c", Seq(rows.filter(e =>
      graft.streaming.AnomalyStream.micros(e.ts) / 3600000000L < minH + 40)))
    assert(short.isEmpty)
  }

  test("psi stream: a closed window's per-band rows equal batch psiBands " +
    "over (window rows, reference rows); a window whose distribution " +
    "IS the reference reads exactly zero psi per band") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val scored = graft.operators.TextAnalysis.corpusFilterCols(
        graft.core.Tables.documents(spark, sfDir))
      .select($"doc_id", $"quality").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val even = scored.filter(_._1 % 2 == 0)
    val odd = scored.filter(_._1 % 2 != 0)
    val refCounts = graft.streaming.AnomalyStream.psiRefCounts(
      odd.toDF("doc_id", "quality"))
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val q = graft.streaming.AnomalyStream.psiStream(
        input.toDF().toDF("ts", "quality"), refCounts,
        watermark = "1 minutes", window_ = "1 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("psis").start()
    try {
      // window [0,60): the even half; window [60,120): the odd half
      // (== the reference); then a sentinel closes both
      input.addData(even.map(d => (ts(10), d._2)))
      input.addData(odd.map(d => (ts(70), d._2)))
      q.processAllAvailable()
      input.addData(Seq((ts(100000), 0.5)))
      q.processAllAvailable()
      val rows = spark.table("psis").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").getTime,
          r.getAs[Long]("band"), r.getAs[Long]("n_cur"),
          r.getAs[Long]("n_ref"), r.getAs[Double]("p_cur"),
          r.getAs[Double]("p_ref"), r.getAs[Double]("psi_term")))
      val w0 = rows.filter(_._1 == 0L).sortBy(_._2)
      val w1 = rows.filter(_._1 == 60000L).sortBy(_._2)
      assert(w0.size == 10 && w1.size == 10,
        s"both closed windows must emit their 10 band rows: ${rows.toSeq}")
      // law 1: the even window == batch psiBands(even, odd), field for field
      val batch = graft.operators.TextAnalysis.psiBands(
          even.toDF("doc_id", "quality"), odd.toDF("doc_id", "quality"))
        .collect().map(r => (r.getAs[Long]("band"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Double]("p_a"),
          r.getAs[Double]("p_b"), r.getAs[Double]("psi_term")))
        .sortBy(_._1)
      w0.zip(batch).foreach { case (st, ba) =>
        assert((st._2, st._3, st._4, st._5, st._6, st._7) == ba,
          s"stream band ${st._2} diverges from batch psiBands: $st vs $ba")
      }
      // law 2: the odd window's distribution IS the reference — every
      // band's counts match and psi_term is exactly +-0.0
      w1.foreach { st =>
        assert(st._3 == st._4, s"band ${st._2}: n_cur must equal n_ref")
        assert(st._7 == 0.0, s"band ${st._2}: psi must be exactly zero")
      }
    } finally q.stop()
  }

  test("drift stream: a closed window's per-cell counts equal batch " +
    "q178's over the same split, psi terms agree with a driver " +
    "recompute of the exact formula, and a window that IS the " +
    "training snapshot reads exactly zero psi per cell") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AnomalyStream
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val split = emb.agg(floor(max($"vec_id") / 2).cast("long")).head.getLong(0)
    val base = emb.filter($"vec_id" <= split).select($"vec_id", $"embedding")
    val (idx, cents) = graft.operators.Similarity.ivfLearned(base,
      k = 8, iters = 2)
    val centroids = AnomalyStream.driftCentroids(cents)
    val refCounts = AnomalyStream.driftRefCounts(
      idx.select($"vec_id", $"cell"))
    val rows = emb.select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val delta = rows.filter(_._1 > split)
    val baseRows = rows.filter(_._1 <= split)
    val input = MemoryStream[(java.sql.Timestamp, Array[Float])]
    val q = AnomalyStream.driftStream(input.toDF().toDF("ts", "embedding"),
        centroids, refCounts, watermark = "1 minutes", window_ = "1 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("drifts").start()
    try {
      // window [0,60): the delta half; window [60,120): the training
      // snapshot itself; sentinel closes both
      input.addData(delta.map(d => (ts(10), d._2)).toSeq)
      input.addData(baseRows.map(d => (ts(70), d._2)).toSeq)
      q.processAllAvailable()
      input.addData(Seq((ts(100000), rows.head._2)))
      q.processAllAvailable()
      val out = spark.table("drifts").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").getTime,
          r.getAs[Long]("cell"), r.getAs[Long]("n_cur"),
          r.getAs[Long]("n_ref"), r.getAs[Double]("psi_term")))
      val w0 = out.filter(_._1 == 0L).sortBy(_._2)
      val w1 = out.filter(_._1 == 60000L).sortBy(_._2)
      assert(w0.size == 8 && w1.size == 8,
        s"both closed windows must emit their 8 cell rows: ${out.toSeq}")
      // law 1: window counts == batch q178's (n_b, n_a) per cell, and
      // the psi term equals a driver recompute of the stream's exact
      // formula (and q178's within the rounding grain — the term is
      // orientation-invariant analytically)
      val batch = graft.operators.Similarity
        .q178EmbeddingDrift(spark, sfDir).collect()
        .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Double]("psi_term"))).sortBy(_._1)
      val totCur = w0.map(_._3).sum
      val totRef = refCounts.sum
      def dround6(x: Double): Double =
        BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      w0.zip(batch).foreach { case (st, ba) =>
        assert(st._2 == ba._1 && st._3 == ba._3 && st._4 == ba._2,
          s"window counts must equal batch q178's per cell: $st vs $ba")
        val pc = (st._3 + 1).toDouble / (totCur + 8).toDouble
        val pr = (st._4 + 1).toDouble / (totRef + 8).toDouble
        val want = dround6((pc - pr) *
          math.log(((st._3 + 1).toDouble * (totRef + 8).toDouble)
            / ((st._4 + 1).toDouble * (totCur + 8).toDouble)))
        assert(st._5 == want, s"cell ${st._2}: psi $st vs recompute $want")
        assert(math.abs(st._5 - ba._4) <= 2e-6,
          s"cell ${st._2}: stream psi ${st._5} vs batch q178 ${ba._4}")
      }
      // law 2: the training snapshot's window reads exactly zero
      w1.foreach { st =>
        assert(st._3 == st._4,
          s"cell ${st._2}: snapshot window counts must equal reference")
        assert(st._5 == 0.0, s"cell ${st._2}: psi must be exactly zero")
      }
    } finally q.stop()
  }

  test("quantile stream: per-type final snapshots equal batch q152 rows " +
    "over the same data; slicing invariant; monotone p50<=p90<=p99") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.QuantileSnap
    implicit val sc = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    def run(name: String, slices: Seq[Seq[Event]])
        : Map[String, QuantileSnap] = {
      val input = MemoryStream[Event]
      val q = graft.streaming.AnomalyStream.quantileStream(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[QuantileSnap].collect()
        .groupBy(_.event_type).map { case (k, hs) => k -> hs.maxBy(_.seen) }
    }
    val one = run("qs_a", Seq(rows))
    val sliced = run("qs_b", rows.grouped(rows.size / 3 + 1).toSeq)
    assert(one.keySet == sliced.keySet && one.nonEmpty)
    one.keySet.foreach { k =>
      assert((one(k).p50, one(k).p90, one(k).p99) ==
        ((sliced(k).p50, sliced(k).p90, sliced(k).p99)),
        s"snapshot quantiles must be slicing-invariant for $k")
      assert(one(k).p50 <= one(k).p90 && one(k).p90 <= one(k).p99)
    }
    val batch = graft.operators.Anomaly.q152ExactQuantiles(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(batch.keySet == one.keySet)
    batch.foreach { case (k, (p50, p90, p99)) =>
      assert((one(k).p50, one(k).p90, one(k).p99) == ((p50, p90, p99)),
        s"stream snapshot for $k diverges from batch q152")
    }
    // the PACKED batch plan (q171 — the stream's per-key map as one
    // sorted-array row, row-local rank selection) lands the identical
    // quantiles, and its n_state is the stream's state-size census
    // (1 <= distinct cents <= row count)
    val packedQ = graft.operators.Anomaly.q171QuantilesPacked(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(packedQ.keySet == batch.keySet)
    packedQ.foreach { case (k, (n, nState, p50, p90, p99)) =>
      assert((p50, p90, p99) == batch(k),
        s"packed q171 quantiles for $k diverge from q152")
      assert(nState >= 1L && nState <= n)
    }
  }

  test("keyed discord stream: per-type final snapshots equal the batch " +
    "q159 rows over the same data; slicing invariant per key; silent " +
    "below two windows") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.KeyedDiscordHit
    implicit val sc = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    def run(name: String, slices: Seq[Seq[Event]])
        : Map[String, KeyedDiscordHit] = {
      val input = MemoryStream[Event]
      val q = graft.streaming.AnomalyStream.discordStreamByType(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[KeyedDiscordHit].collect()
        .groupBy(_.event_type).map { case (k, hs) => k -> hs.maxBy(_.seen) }
    }
    val one = run("kd_a", Seq(rows))
    val sliced = run("kd_b", rows.grouped(rows.size / 3 + 1).toSeq)
    assert(one.keySet == sliced.keySet && one.nonEmpty)
    one.keySet.foreach { k =>
      assert((one(k).win_start_h, one(k).score) ==
        ((sliced(k).win_start_h, sliced(k).score)),
        s"per-key discord must be slicing-invariant for $k")
    }
    val batch = graft.operators.Anomaly.q159DiscordByType(spark, sfDir)
      .collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(batch.keySet == one.keySet)
    batch.foreach { case (k, (h, sc)) =>
      assert((one(k).win_start_h, one(k).score) == ((h, sc)),
        s"stream snapshot for $k diverges from batch q159")
    }
    val minH = rows.map(e =>
      graft.streaming.AnomalyStream.micros(e.ts) / 3600000000L).min
    val short = run("kd_c", Seq(rows.filter(e =>
      graft.streaming.AnomalyStream.micros(e.ts) / 3600000000L < minH + 40)))
    assert(short.isEmpty)
  }

  test("keyed ensemble stream: per-type final corroboration censuses " +
    "equal the batch q161 rows over the same data; slicing invariant; " +
    "one shared state drives all four detectors") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.KeyedEnsembleHit
    implicit val sc = spark.sqlContext
    val rows = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().toSeq
    def run(name: String, slices: Seq[Seq[Event]])
        : Map[String, Seq[(Long, Long, String)]] = {
      val input = MemoryStream[Event]
      val q = graft.streaming.AnomalyStream.ensembleStreamByType(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      spark.table(name).as[KeyedEnsembleHit].collect()
        .groupBy(_.event_type).map { case (k, hs) =>
          val last = hs.map(_.seen).max
          k -> hs.filter(_.seen == last)
            .map(h => (h.hour_h, h.n_detectors, h.detectors))
            .sortBy(_._1).toSeq
        }
    }
    val one = run("ke_a", Seq(rows))
    val sliced = run("ke_b", rows.grouped(rows.size / 3 + 1).toSeq)
    assert(one == sliced, "per-key censuses must be slicing-invariant")
    assert(one.nonEmpty)
    // final snapshot == batch q161 per key (hour, count, roster)
    val batch = graft.operators.Anomaly.q161KeyedEnsemble(spark, sfDir)
      .collect()
      .groupBy(_.getString(0)).map { case (k, rs) =>
        k -> rs.map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
          .sortBy(_._1).toSeq
      }
    assert(batch == one, "stream censuses diverge from batch q161")
    // corroboration exists somewhere in the corpus-wide snapshot, and
    // every roster is sorted/deduped
    val allRows = one.values.flatten
    assert(allRows.forall { case (_, n, det) =>
      val ds = det.split(",").toSeq
      ds.length == n && ds == ds.sorted && ds.distinct == ds
    })
    spark.catalog.clearCache()
  }

  test("bm25 ingest stream: probe after streaming a doc batch in slices " +
    "equals a full rebuild; replayed micro-batches leave the layout " +
    "untouched (exactly-once via the commit pointer)") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.DocEvent
    import org.apache.spark.sql.functions.{sum => fsum}
    implicit val sc = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, sfDir)
      .localCheckpoint(false)
    val base = docs.filter($"doc_id" % 2 === 0)
    val delta = docs.filter($"doc_id" % 2 =!= 0)
      .select($"doc_id", $"lang", $"text").as[DocEvent].collect().toSeq
    val tmp = java.nio.file.Files.createTempDirectory("bm25ing").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bm25ing_ck").toString
    graft.operators.TextAnalysis.bm25IndexWrite(base, tmp)
    val input = MemoryStream[DocEvent]
    val q = graft.streaming.Bm25Ingest.bm25IngestStream(
      input.toDF(), tmp, ckpt)
    try delta.grouped(delta.size / 3 + 1).foreach { s =>
      input.addData(s); q.processAllAvailable()
    } finally q.stop()
    // probe == a from-scratch rebuild over ALL docs
    val streamed = graft.operators.TextAnalysis.bm25Probe(spark, tmp,
      graft.operators.TextAnalysis.Bm25Query).collect().toSeq
    val rebuilt = java.nio.file.Files.createTempDirectory("bm25rb").toString
    graft.operators.TextAnalysis.bm25IndexWrite(docs, rebuilt)
    val fresh = graft.operators.TextAnalysis.bm25Probe(spark, rebuilt,
      graft.operators.TextAnalysis.Bm25Query).collect().toSeq
    assert(streamed == fresh,
      "probe after streamed ingest must equal a full rebuild")
    // replay: an already-committed batch id is a no-op on stats AND
    // postings (bm25Append is not idempotent — the pointer makes the
    // protocol so)
    def stats() = spark.read.parquet(s"$tmp/_stats")
      .agg(fsum("nd"), fsum("tl")).head()
    val before = (stats().getLong(0), stats().getLong(1),
      spark.read.parquet(tmp).count())
    val committed = graft.streaming.Bm25Ingest.committedBatch(spark, tmp)
    assert(committed >= 0L)
    assert(!graft.streaming.Bm25Ingest.applyBatch(
      docs.limit(5), committed, tmp), "replay must be refused")
    val after = (stats().getLong(0), stats().getLong(1),
      spark.read.parquet(tmp).count())
    assert(before == after, "replayed batch must leave the layout untouched")
    spark.catalog.clearCache()
  }

  test("quantile stream with a forced capCents: quantiles at or below " +
    "the cap stay exact, quantiles above clamp to the cap (the " +
    "bounded-state escape hatch for unbounded value domains)") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.QuantileSnap
    implicit val sc = spark.sqlContext
    // deterministic values 0.01..1.00 dollars (cents 1..100): true
    // p50 = 0.50, p90 = 0.90, p99 = 0.99
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val evs = (1 to 100).map(i =>
      Event(i.toLong, t0, 1L, "m", i.toDouble / 100.0))
    def run(name: String, cap: Long): QuantileSnap = {
      val input = MemoryStream[Event]
      val q = graft.streaming.AnomalyStream
        .quantileStream(input.toDS(), capCents = cap)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try { input.addData(evs); q.processAllAvailable() } finally q.stop()
      spark.table(name).as[QuantileSnap].collect().maxBy(_.seen)
    }
    // cap above the domain: behavior identical to uncapped
    val free = run("qcap_free", 1000L)
    assert((free.p50, free.p90, free.p99) == ((0.50, 0.90, 0.99)))
    // cap at 75 cents: p50 exact (below the cap), p90/p99 clamp to the
    // cap — a one-sided floor, never a wrong value below the cap
    val capped = run("qcap_75", 75L)
    assert(capped.p50 == 0.50,
      s"p50 sits below the cap and must stay exact, got ${capped.p50}")
    assert(capped.p90 == 0.75 && capped.p99 == 0.75,
      s"quantiles above the cap must clamp to it, got " +
        s"(${capped.p90}, ${capped.p99})")
  }

  test("hll stream: slicing invariance, JVM/SQL register parity, and " +
    "snapshot equals the batch q131 device over the same rows") {
    import spark.implicits._
    import graft.streaming.AnomalyStream.{HllEst, LangTok}
    implicit val sc = spark.sqlContext
    // deterministic multiset: repeated keys must not move registers
    val toks = (0 until 400).map(i => LangTok(if (i % 2 == 0) "a" else "b",
      s"k${i % 97}")) ++ (0 until 50).map(i => LangTok("a", s"k${i % 7}"))
    def run(slices: Seq[Seq[LangTok]]): Map[String, (Long, Long, Double)] = {
      val input = MemoryStream[LangTok]
      val q = graft.streaming.AnomalyStream.hllStream(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("hlls").start()
      try {
        slices.foreach { s => input.addData(s); q.processAllAvailable() }
      } finally q.stop()
      val rows = spark.table("hlls").as[HllEst].collect()
      // max-seen snapshot per key (the heavyHittersStream contract)
      rows.groupBy(_.key).map { case (k, rs) =>
        val last = rs.maxBy(_.seen)
        k -> ((last.seen, last.reg_checksum, last.est))
      }
    }
    val one = run(Seq(toks))
    val sliced = run(toks.grouped(113).toSeq)
    assert(one == sliced, "HLL state must be batch-slicing invariant")
    // JVM addressing is bit-identical to the batch SQL device, and the
    // estimate matches the q131 arithmetic over the same rows
    val batch = toks.toDF("lang", "tok")
      .select($"lang",
        (conv(substring(md5($"tok"), 1, 2), 16, 10)
          .cast("long") % 64L).as("j"),
        ltrim(substring(md5($"tok"), 3, 13), "0").as("st"))
      .withColumn("rho", when(length($"st") === 0, lit(53L))
        .otherwise(lit(4L) * (lit(13L) - length($"st")) +
          when(substring($"st", 1, 1) >= "8", 0L)
            .when(substring($"st", 1, 1) >= "4", 1L)
            .when(substring($"st", 1, 1) >= "2", 2L).otherwise(3L) + lit(1L)))
      .groupBy($"lang", $"j").agg(max($"rho").as("m"))
      .groupBy($"lang")
      .agg(sum($"j" * $"m").as("cksum"), count(lit(1)).as("np"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    one.foreach { case (k, (seen, cksum, est)) =>
      assert(batch(k)._1 == cksum,
        s"$k: stream checksum $cksum vs SQL ${batch(k)._1}")
      assert(batch(k)._2 > 0L && est > 0.0)
    }
    // seen equals the multiset size per key
    val sizes = toks.groupBy(_.lang).view.mapValues(_.size.toLong).toMap
    one.foreach { case (k, (seen, _, _)) => assert(seen == sizes(k)) }
  }

  // q126 exists to SIZE watermarks; this is the law that closes the
  // loop: replay the SAME jittered arrival order through a watermarked
  // streaming aggregation, one event per micro-batch (so the engine's
  // watermark is exactly the census's strictly-preceding running max,
  // minus the delay), and the census's beyond-boundary band mass IS
  // the streaming drop count. Second half: a watermark sized at the
  // jitter bound (600 s — where gt_600s is the structural zero) drops
  // nothing.
  test("watermark-sizing law: q126's census predicts the streaming drop " +
    "count at the 60 s boundary; the jitter-bound watermark drops zero") {
    import spark.implicits._
    import graft.operators.Relational
    implicit val sc = spark.sqlContext
    // densified replica of the driver events (integer 40x time
    // compression): sf0.001's 43-minute mean gap never trips a 600 s
    // jitter, so the raw fixture cannot exercise the drop path
    val n = 100
    val base = graft.core.Tables.events(spark, sfDir)
      .selectExpr("event_id", "unix_micros(ts) div 40 AS us")
    val feed = Relational.jitteredArrival(base)
      .orderBy(col("arr"), col("event_id")).limit(n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the library census over the replayed subset
    val bands = Relational.disorderCensus(
      feed.map { case (id, us, _) => (id, us) }.toSeq.toDF("event_id", "us"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val dropExpect = bands.getOrElse("le_600s", 0L) + bands.getOrElse("gt_600s", 0L)
    assert(dropExpect > 0, s"fixture must exercise the drop path: $bands")
    // boundary-gap precondition: no event's disorder within 10 ms of
    // the 60 s boundary, so Spark's ms-granular watermark arithmetic
    // cannot flip a boundary case (a regenerated corpus that lands one
    // there fails loudly here, not with a confusing off-by-one below)
    var rm = Long.MinValue
    val dis = feed.map { case (_, us, _) =>
      val d = if (rm == Long.MinValue) 0L else math.max(0L, rm - us)
      rm = math.max(rm, us); d
    }
    assert(dis.forall(d => math.abs(d - 60000000L) > 10000L))
    def accepted(delay: String, name: String): Long = {
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      val q = input.toDF().toDF("event_id", "ts")
        .withWatermark("ts", delay)
        .groupBy($"ts").count()
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try feed.foreach { case (id, us, _) =>
        val t = new java.sql.Timestamp(us / 1000L)
        t.setNanos(((us % 1000000L) * 1000L).toInt)
        input.addData((id, t)); q.processAllAvailable()
      } finally q.stop()
      // update mode emits one row per accepted event (its group's
      // updated count); a watermark-dropped event emits nothing
      spark.table(name).count()
    }
    assert(accepted("60 seconds", "wmlaw60") == n - dropExpect,
      s"60 s watermark must drop exactly the census's $dropExpect " +
        "beyond-60s events")
    assert(accepted("600 seconds", "wmlaw600") == n.toLong,
      "a watermark sized at the jitter bound (q126's structural-zero " +
        "band) must drop nothing")
  }

  test("cdc apply stream: foreachBatch maintains the snapshot, the " +
    "multi-batch chain equals the compacted resolve-then-merge, and " +
    "batch replay is idempotent on state") {
    import spark.implicits._
    import graft.operators.Pipeline
    import graft.streaming.CdcApply
    implicit val sc = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text")
    val ids = docs.orderBy("doc_id").limit(3).collect()
      .map(_.getLong(0))
    val statePath = java.nio.file.Files
      .createTempDirectory("cdc_state").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_ckpt").toString
    CdcApply.initState(docs, statePath)
    // δ1: delete ids(0), upsert ids(1), insert fresh key; δ2 crosses
    // it: re-upserts the δ1-deleted key, deletes the δ1-upserted key
    val d1 = Seq((ids(0), "delete", "en", "x"),
      (ids(1), "upsert", "en", "v2 text"),
      (-9999L, "upsert", "fr", "fresh insert"))
    val d2 = Seq((ids(0), "upsert", "en", "resurrected"),
      (ids(1), "delete", "en", "x"),
      (ids(2), "upsert", "de", "v3 text"))
    val input = MemoryStream[(Long, String, String, String)]
    val deltas = input.toDF().toDF("doc_id", "op", "lang", "text")
    val q = CdcApply.cdcApplyStream(deltas, statePath, ckpt)
    try {
      input.addData(d1); q.processAllAvailable()
      input.addData(d2); q.processAllAvailable()
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    val got = canon(CdcApply.currentState(spark, statePath))
    // batch-by-batch chain == one-shot apply of the resolved delta
    // (the q125 composition law, exercised through the stream)
    val d1df = d1.toDF("doc_id", "op", "lang", "text")
    val d2df = d2.toDF("doc_id", "op", "lang", "text")
    val chain = Pipeline.mergeApply(
      Pipeline.mergeApply(docs, d1df).select("doc_id", "lang", "text"),
      d2df).select("doc_id", "lang", "text")
    val compacted = Pipeline.mergeApply(docs,
      Pipeline.resolveDeltas(d1df, d2df)).select("doc_id", "lang", "text")
    assert(got == canon(chain))
    assert(got == canon(compacted))
    // the delete-then-upsert key survives with δ2's text; the
    // upsert-then-delete key is gone
    assert(got.exists(r => r._1 == ids(0) && r._3 == "resurrected"))
    assert(!got.exists(_._1 == ids(1)))
    // replay guard: re-delivering the last committed batch id must
    // not touch state (foreachBatch is at-least-once; the pointer
    // makes the apply exactly-once)
    val (committed, dir) = CdcApply.readPointer(spark, statePath)
    assert(committed >= 1L)
    assert(!CdcApply.applyBatch(d2df, committed, statePath))
    assert(CdcApply.readPointer(spark, statePath) == ((committed, dir)))
    assert(canon(CdcApply.currentState(spark, statePath)) == got)
    // TIME TRAVEL: every committed version stays readable — the seed
    // is the original docs, batch 0 is merge(docs, δ1), and reading a
    // never-committed id refuses instead of approximating
    assert(canon(CdcApply.stateAt(spark, statePath, -1L)) == canon(docs))
    assert(canon(CdcApply.stateAt(spark, statePath, 0L)) ==
      canon(Pipeline.mergeApply(docs, d1df).select("doc_id", "lang", "text")))
    assert(canon(CdcApply.stateAt(spark, statePath, committed)) == got)
    intercept[IllegalArgumentException] {
      CdcApply.stateAt(spark, statePath, 99L)
    }
  }

  test("cdc chunk stream: JVM chunker is bit-parity with the batch " +
    "Column spelling, the final snapshot census equals batch q133, and " +
    "emissions are invariant under re-slicing") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    import graft.streaming.AnomalyStream.{ChunkSeen, DocEvent}
    import graft.operators.Dedup
    val docsDf = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("text"))
    // 1. ONE boundary definition: the JVM chunker reproduces the batch
    //    chunk stream exactly — per-doc ordered (chunk, toks, ch)
    val batchChunks = Dedup.cdcChunks(docsDf)
      .select("doc_id", "chunk", "chunk_toks", "ch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sorted
    val docs = docsDf.collect()
      .map(r => DocEvent(r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_.doc_id)
    val jvmChunks = docs.flatMap(d => Dedup.cdcChunksOf(d.text)
      .map { case (c, t, h) => (d.doc_id, c, t, h) }).sorted
    assert(jvmChunks.sameElements(batchChunks),
      "JVM chunker diverged from the batch Column spelling")

    def run(name: String, slices: Seq[Seq[DocEvent]]): Seq[ChunkSeen] = {
      val input = MemoryStream[DocEvent]
      val q = AnomalyStream.cdcChunkStream(input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      try {
        slices.foreach { s =>
          if (s.nonEmpty) input.addData(s: _*)
          q.processAllAvailable()
        }
        spark.table(name).as[ChunkSeen].collect().toSeq
      } finally q.stop()
    }
    val third = math.max(1, docs.length / 3)
    val emitted = run("cdcs_a", docs.grouped(third).map(_.toSeq).toSeq)

    // 2. snapshot census == batch q133 over the same rows: an instance
    //    is a duplicate iff its chunk's FINAL occurrence count > 1
    val finalOcc = emitted.groupBy(_.ch)
      .view.mapValues(_.map(_.occ).max).toMap
    val got = emitted.groupBy(_.lang).map { case (lang, cs) =>
      (lang, cs.size.toLong, cs.map(_.chunk_toks).sum,
        cs.count(c => finalOcc(c.ch) > 1L).toLong)
    }.toSet
    val want = Dedup.q133CdcChunking(spark, sfDir).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2),
        r.getAs[Long]("n_dup_chunks"))).toSet
    assert(got == want, s"stream census $got != batch $want")

    // 3. replay contract: a DIFFERENT slicing of the same ordered docs
    //    yields the identical emission set (state is a sum multiset;
    //    within-batch application order is pinned)
    val emitted2 = run("cdcs_b", docs.grouped(math.max(1,
      docs.length / 7)).map(_.toSeq).toSeq)
    assert(emitted.toSet == emitted2.toSet,
      "emissions diverged under re-slicing")
  }

  test("managed bm25 maintenance: auto-compaction fires mid-stream, " +
    "the generation swap carries the replay pointer, the probe equals " +
    "a rebuild on survivors, and retire keeps the live generation") {
    import spark.implicits._
    import graft.core.Roots
    import graft.operators.TextAnalysis
    import graft.streaming.Bm25Maintain
    implicit val sc = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, sfDir)
      .localCheckpoint(false)
    val base = java.nio.file.Files.createTempDirectory("bm25mng").toString
    TextAnalysis.bm25IndexWrite(docs.filter($"doc_id" % 2 === 0),
      s"$base/gen0")
    Roots.publish(spark, base, "gen0")
    val adds = docs.filter($"doc_id" % 2 =!= 0)
      .select(lit("add").as("op"), $"doc_id", $"lang", $"text")
      .as[(String, Long, String, String)].collect().toSeq
    // a third of ALL docs deleted — far over the 10% trigger, so the
    // stream must compact at least once; dels after adds for a
    // slicing-invariant end state
    val dels = docs.filter($"doc_id" % 3 === 0)
      .select(lit("del").as("op"), $"doc_id", lit(null: String),
        lit(null: String))
      .as[(String, Long, String, String)].collect().toSeq
    val feed = adds ++ dels
    val ckpt = java.nio.file.Files.createTempDirectory("bm25mng_ck").toString
    val input = MemoryStream[(String, Long, String, String)]
    val q = Bm25Maintain.bm25MaintainStreamManaged(
      input.toDF().toDF("op", "doc_id", "lang", "text"), base, ckpt,
      compactAt = 0.10)
    val nBatches = {
      val slices = feed.grouped(feed.size / 5 + 1).toSeq
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      slices.size
    }
    assert(Roots.currentGen(spark, base) != "gen0",
      "auto-compaction never fired")
    assert(Roots.generations(spark, base).size >= 2)
    val rebuilt = java.nio.file.Files.createTempDirectory("bm25mngrb")
      .toString
    TextAnalysis.bm25IndexWrite(docs.filter($"doc_id" % 3 =!= 0), rebuilt)
    assert(TextAnalysis.bm25Probe(spark, Roots.current(spark, base),
        TextAnalysis.Bm25Query).collect().toSeq ==
      TextAnalysis.bm25Probe(spark, rebuilt, TextAnalysis.Bm25Query)
        .collect().toSeq,
      "managed stream diverges from a rebuild on survivors")
    // replay protection SURVIVED the generation flip (pointer carried)
    val committed = Bm25Maintain.committedBatch(spark,
      Roots.current(spark, base))
    assert(committed == nBatches - 1L,
      s"carried pointer reads $committed, expected ${nBatches - 1}")
    assert(!Bm25Maintain.applyBatch(
      Seq(("del", 2L, null: String, null: String))
        .toDF("op", "doc_id", "lang", "text"),
      committed, Roots.current(spark, base)), "post-swap replay accepted")
    // retire: old generations go, the live one stays, probes unaffected
    val retired = Roots.retire(spark, base, keepLatest = 1)
    assert(retired.contains("gen0"))
    assert(Roots.generations(spark, base) ==
      Seq(Roots.currentGen(spark, base)))
    assert(TextAnalysis.bm25Probe(spark, Roots.current(spark, base),
      TextAnalysis.Bm25Query).collect().nonEmpty)
    spark.catalog.clearCache()
  }

  test("ivf CRUD maintenance stream: a mixed add/del feed in slices " +
    "equals batch ivfAppend+ivfDelete of the same rows; replay refused " +
    "untouched") {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.streaming.IvfMaintain
    implicit val sc = spark.sqlContext
    val rootA = java.nio.file.Files.createTempDirectory("ivfmntA").toString
    val rootB = java.nio.file.Files.createTempDirectory("ivfmntB").toString
    FullIvf.build(spark, sfDir, rootA)
    FullIvf.build(spark, sfDir, rootB)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val maxId = emb.agg(max($"vec_id")).head().getLong(0)
    val addsDf = emb.filter($"vec_id" % 5 === 1)
      .select(($"vec_id" + maxId + 1L).as("vec_id"), $"embedding")
      .localCheckpoint(false)
    val delsDf = emb.filter($"vec_id" % 7 === 3).select($"vec_id")
      .localCheckpoint(false)
    val adds = addsDf.as[(Long, Seq[Float])].collect().toSeq
      .map { case (id, e) => ("add", id, e) }
    val dels = delsDf.as[Long].collect().toSeq
      .map(id => ("del", id, Seq.empty[Float]))
    val feed = adds ++ dels
    val ckpt = java.nio.file.Files.createTempDirectory("ivfmnt_ck").toString
    val input = MemoryStream[(String, Long, Seq[Float])]
    val q = IvfMaintain.ivfMaintainStream(FullIvf,
      input.toDF().toDF("op", "vec_id", "embedding"), rootA, ckpt)
    try feed.grouped(feed.size / 4 + 1).foreach { s =>
      input.addData(s); q.processAllAvailable()
    } finally q.stop()
    // control: batch append + delete against the identical twin layout
    FullIvf.append(spark, rootB, addsDf)
    Similarity.ivfDelete(delsDf, s"$rootB/index")
    def probe(root: String) = FullIvf.probe(spark, root,
      excludeVecId = Some(0L)).collect().toSeq
    assert(probe(rootA) == probe(rootB),
      "probe after CRUD stream diverges from batch append+delete")
    def live(root: String) = FullIvf.readLive(spark, s"$root/index")
      .groupBy($"cell").agg(count(lit(1)).as("n"), sum($"vec_id").as("sv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(live(rootA) == live(rootB),
      "live cell census diverges from batch append+delete")
    val committed = IvfMaintain.committedBatch(spark, rootA)
    assert(committed >= 0L)
    val before = live(rootA)
    assert(!IvfMaintain.applyBatch(FullIvf,
      Seq(("del", 2L, Seq.empty[Float]))
        .toDF("op", "vec_id", "embedding"),
      committed, rootA), "replay must be refused")
    assert(live(rootA) == before)
    spark.catalog.clearCache()
  }

  test("managed ivf maintenance: auto-compaction fires, the swap " +
    "carries pointer AND serving sidecars, probe == batch-maintained " +
    "control on the survivors") {
    import spark.implicits._
    import graft.core.Roots
    import graft.operators.Similarity
    import graft.streaming.IvfMaintain
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ivfmng").toString
    FullIvf.build(spark, sfDir, s"$base/gen0")
    Roots.publish(spark, base, "gen0")
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val maxId = emb.agg(max($"vec_id")).head().getLong(0)
    val addsDf = emb.filter($"vec_id" % 5 === 1)
      .select(($"vec_id" + maxId + 1L).as("vec_id"), $"embedding")
      .localCheckpoint(false)
    val delsDf = emb.filter($"vec_id" % 3 === 0).select($"vec_id")
      .localCheckpoint(false)
    val feed = addsDf.as[(Long, Seq[Float])].collect().toSeq
        .map { case (id, e) => ("add", id, e) } ++
      delsDf.as[Long].collect().toSeq.map(id => ("del", id, Seq.empty[Float]))
    val ckpt = java.nio.file.Files.createTempDirectory("ivfmng_ck").toString
    val input = MemoryStream[(String, Long, Seq[Float])]
    val q = IvfMaintain.ivfMaintainStreamManaged(FullIvf,
      input.toDF().toDF("op", "vec_id", "embedding"), base, ckpt,
      compactAt = 0.10)
    val nBatches = {
      val slices = feed.grouped(feed.size / 4 + 1).toSeq
      try slices.foreach { s => input.addData(s); q.processAllAvailable() }
      finally q.stop()
      slices.size
    }
    assert(Roots.currentGen(spark, base) != "gen0",
      "auto-compaction never fired")
    // control: batch-maintained twin (append + delete, no compaction —
    // compaction must be answer-invariant)
    val ctrl = java.nio.file.Files.createTempDirectory("ivfmngc").toString
    FullIvf.build(spark, sfDir, ctrl)
    FullIvf.append(spark, ctrl, addsDf)
    Similarity.ivfDelete(delsDf, s"$ctrl/index")
    def probe(root: String) = FullIvf.probe(spark, root,
      excludeVecId = Some(0L)).collect().toSeq
    assert(probe(Roots.current(spark, base)) == probe(ctrl),
      "managed ivf stream diverges from the batch-maintained control")
    // sidecars carried: the batch probe still runs on the new gen
    assert(Similarity.ivfProbeStoredBatch(spark,
      Roots.current(spark, base)).collect().nonEmpty)
    // pointer carried across the swap
    assert(IvfMaintain.committedBatch(spark, Roots.current(spark, base))
      == nBatches - 1L)
    spark.catalog.clearCache()
  }

  test("tenant ivf maintenance stream: the stream-built tenant layout " +
    "answers exactly the batch-built one; a tenant purge rides the " +
    "feed as del rows; managed compaction drops the purged tenant's " +
    "tb= subtree; replay refused untouched") {
    import spark.implicits._
    import graft.core.Roots
    import graft.operators.Similarity
    import graft.streaming.IvfMaintain
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ivftmnt").toString
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    // gen0 starts EMPTY of members: frozen quantizer + query sidecars
    // only — the whole corpus arrives through the stream
    val (_, cents) = Similarity.ivfLearned(emb, k = 8, iters = 2)
    cents.write.mode("overwrite").parquet(s"$base/gen0/_cents")
    emb.filter($"vec_id" === 0)
      .selectExpr("cast(embedding as array<double>) as qv")
      .write.mode("overwrite").parquet(s"$base/gen0/_query")
    Roots.publish(spark, base, "gen0")
    val purged = Similarity.IvfTenants(1)
    val adds = emb
      .select($"vec_id", $"embedding", $"label".cast("long").as("tb"))
      .as[(Long, Seq[Float], Long)].collect().toSeq
      .map { case (id, e, tb) => ("add", id, e, tb) }
    // the purge is just that tenant's del rows multiplexed into the
    // same feed (single-writer contract) — tb on a del is ignored
    val purgeDels = adds.filter(_._4 == purged)
      .map { case (_, id, _, tb) => ("del", id, Seq.empty[Float], tb) }
    val ckpt = java.nio.file.Files.createTempDirectory("ivftmnt_ck").toString
    val input = MemoryStream[(String, Long, Seq[Float], Long)]
    val q = IvfMaintain.ivfMaintainStreamManaged(TenantIvf,
      input.toDF().toDF("op", "vec_id", "embedding", "tb"), base, ckpt,
      compactAt = 0.05)
    val feed = adds.grouped(adds.size / 3 + 1).toSeq :+ purgeDels
    try feed.foreach { s => input.addData(s); q.processAllAvailable() }
    finally q.stop()
    // the purge pushed the dead fraction past the trigger
    assert(Roots.currentGen(spark, base) != "gen0",
      "auto-compaction never fired")
    val cur = Roots.current(spark, base)
    // erasure physics: the purged tenant's tb= subtree does not exist
    // in the compacted generation, the survivor's does
    val tbDirs = new java.io.File(s"$cur/index").listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!tbDirs.contains(s"tb=$purged"),
      s"purged tenant's subtree survived compaction: $tbDirs")
    assert(tbDirs.contains(s"tb=${Similarity.IvfTenants.head}"))
    // batch control: the one-shot tenant layout, same purge batch-side
    val ctrl = java.nio.file.Files.createTempDirectory("ivftmntc").toString
    TenantIvf.build(spark, sfDir, ctrl)
    TenantIvf.purge(spark, ctrl, purged)
    def probe(root: String, tb: Long) =
      TenantIvf.probe(spark, root, Some(tb),
        excludeVecId = Some(0L)).collect().toSeq
    Similarity.IvfTenants.foreach { tb =>
      assert(probe(cur, tb) == probe(ctrl, tb),
        s"tenant $tb: stream-built layout diverges from batch control")
    }
    assert(probe(cur, purged).isEmpty,
      "purged tenant must be unservable from the stream-built layout")
    // replay refused: re-applying the last committed batch id leaves
    // the layout untouched
    val committed = IvfMaintain.committedBatch(spark, cur)
    assert(committed == feed.size - 1L)
    val before = TenantIvf.readLive(spark, s"$cur/index")
      .groupBy($"tb").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(!IvfMaintain.applyBatch(TenantIvf,
      Seq(("add", 999999L, Seq.fill(64)(0.5f), 0L))
        .toDF("op", "vec_id", "embedding", "tb"),
      committed, cur), "replay must be refused")
    assert(TenantIvf.readLive(spark, s"$cur/index")
      .groupBy($"tb").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      == before)
    spark.catalog.clearCache()
  }

  test("stored-PQ maintenance stream: a mixed add/del feed in slices " +
    "equals the batch build + batch delete of the same rows; managed " +
    "compaction folds tombstones without re-encoding and carries " +
    "_books; replay refused untouched") {
    import spark.implicits._
    import graft.core.Roots
    import graft.operators.Similarity
    import graft.streaming.IvfMaintain
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("ivfpqmnt").toString
    // gen0: frozen quantizers + sidecars only, EMPTY index — the
    // whole corpus arrives through the stream
    PqIvf.build(spark, sfDir, s"$base/gen0", members = lit(false))
    Roots.publish(spark, base, "gen0")
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val adds = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toSeq
      .map { case (id, e) => ("add", id, e) }
    val victims = adds.collect { case (_, id, _) if id % 7 == 3 => id }
    val dels = victims.map(id => ("del", id, Seq.empty[Float]))
    val ckpt = java.nio.file.Files.createTempDirectory("ivfpq_ck").toString
    val input = MemoryStream[(String, Long, Seq[Float])]
    val q = IvfMaintain.ivfMaintainStreamManaged(PqIvf,
      input.toDF().toDF("op", "vec_id", "embedding"), base, ckpt,
      compactAt = 0.05)
    val feed = adds.grouped(adds.size / 3 + 1).toSeq :+ dels
    try feed.foreach { s => input.addData(s); q.processAllAvailable() }
    finally q.stop()
    assert(Roots.currentGen(spark, base) != "gen0",
      "auto-compaction never fired")
    val cur = Roots.current(spark, base)
    // the compacted generation carries the frozen codebooks — without
    // the _books carry every later probe would die
    assert(graft.core.Fs.exists(spark, s"$cur/_books"),
      "_books sidecar lost in the generation flip")
    assert(!graft.core.Fs.exists(spark, s"$cur/index/_tombstones"),
      "compaction must fold tombstones away")
    // batch control: full build, then the same victims batch-deleted
    val ctrl = java.nio.file.Files.createTempDirectory("ivfpqmc").toString
    PqIvf.build(spark, sfDir, ctrl)
    Similarity.ivfDelete(victims.toDF("vec_id"), s"$ctrl/index")
    def probe(root: String) =
      PqIvf.probe(spark, root,
        excludeVecId = Some(0L)).collect().toSeq
    assert(probe(cur) == probe(ctrl),
      "stream-built PQ layout diverges from the batch control")
    // byte-identity of the STORED codes: compaction moved, never
    // re-encoded (frozen-quantizer purity)
    def codes(root: String) = spark.read.parquet(s"$root/index")
      .select($"vec_id", $"code", $"cell".cast("long").as("cell"))
      .as[(Long, Seq[Byte], Long)].collect().sortBy(_._1).toSeq
    val ctrlLive = codes(ctrl).filterNot(c => victims.contains(c._1))
    assert(codes(cur) == ctrlLive,
      "stored codes diverge from a batch rebuild over the survivors")
    // replay refused: re-applying the last committed batch id leaves
    // the layout untouched
    val committed = IvfMaintain.committedBatch(spark, cur)
    assert(committed == feed.size - 1L)
    val before = spark.read.parquet(s"$cur/index").count()
    assert(!IvfMaintain.applyBatch(PqIvf,
      Seq(("add", 999999L, Seq.fill(64)(0.5f)))
        .toDF("op", "vec_id", "embedding"),
      committed, cur), "replay must be refused")
    assert(spark.read.parquet(s"$cur/index").count() == before)
    spark.catalog.clearCache()
  }

  test("tenant bm25 maintenance stream: the stream-built tenant layout " +
    "answers exactly the batch-built one; a tenant purge rides the " +
    "feed as del rows; managed compaction drops the purged tenant's " +
    "lang= subtree; replay refused untouched") {
    import spark.implicits._
    import graft.core.Roots
    import graft.operators.TextAnalysis
    import graft.streaming.Bm25Maintain
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("bmtmnt").toString
    // gen0 starts EMPTY — the whole corpus arrives through the stream
    // (bm25MaintainStageTenants' fresh-root contract)
    new java.io.File(s"$base/gen0").mkdirs()
    Roots.publish(spark, base, "gen0")
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"text")
      .as[(Long, String, String)].collect().toSeq
    val purged = TextAnalysis.TenantLangs(1)
    val adds = docs.map { case (id, l, t) => ("add", id, l, t) }
    val purgeDels = docs.collect { case (id, l, _) if l == purged =>
      ("del", id, l, "") }
    val ckpt = java.nio.file.Files.createTempDirectory("bmtmnt_ck").toString
    val input = MemoryStream[(String, Long, String, String)]
    val q = Bm25Maintain.bm25MaintainStreamManagedTenants(
      input.toDF().toDF("op", "doc_id", "lang", "text"), base, ckpt,
      compactAt = 0.02)
    val feed = adds.grouped(adds.size / 3 + 1).toSeq :+ purgeDels
    try feed.foreach { s => input.addData(s); q.processAllAvailable() }
    finally q.stop()
    assert(Roots.currentGen(spark, base) != "gen0",
      "auto-compaction never fired")
    val cur = Roots.current(spark, base)
    // erasure physics: the purged tenant's lang= subtree is gone, the
    // survivor's remains
    val langDirs = new java.io.File(cur).listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!langDirs.contains(s"lang=$purged"),
      s"purged tenant's subtree survived compaction: $langDirs")
    assert(langDirs.contains(s"lang=${TextAnalysis.TenantLangs.head}"))
    // batch control: one-shot tenant layout, same purge batch-side
    val ctrl = java.nio.file.Files.createTempDirectory("bmtmntc").toString
    TextAnalysis.bm25IndexWriteTenants(
      graft.core.Tables.documents(spark, sfDir), ctrl)
    TextAnalysis.bm25PurgeTenantAtomic(spark, ctrl, purged,
      graft.streaming.IngestCommit.committed(spark, ctrl) + 1L)
    def probe(root: String, lang: String) =
      TextAnalysis.bm25ProbeTenant(spark, root, lang,
        TextAnalysis.Bm25Query).collect().toSeq
    TextAnalysis.TenantLangs.foreach { lang =>
      assert(probe(cur, lang) == probe(ctrl, lang),
        s"tenant $lang: stream-built layout diverges from batch control")
    }
    assert(probe(cur, purged).isEmpty,
      "purged tenant must be unservable from the stream-built layout")
    // replay refused untouched
    val committed = Bm25Maintain.committedBatch(spark, cur)
    assert(committed == feed.size - 1L)
    val before = spark.read.parquet(s"$cur/_docs").count()
    assert(!Bm25Maintain.applyBatchTenants(
      Seq(("add", 999999L, "en", "new doc text"))
        .toDF("op", "doc_id", "lang", "text"),
      committed, cur), "replay must be refused")
    assert(spark.read.parquet(s"$cur/_docs").count() == before)
    spark.catalog.clearCache()
  }

  test("ingest commit protocol: a crash mid-publish (postings renamed " +
    "in, sidecars and pointer missing) converges to the clean-run end " +
    "state on redelivery — driven through an explicit file: scheme so " +
    "every pointer/scrub op resolves its FileSystem, never assumes " +
    "local paths") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    import graft.streaming.{Bm25Ingest, IngestCommit}
    import org.apache.spark.sql.functions.{sum => fsum}
    val docs = graft.core.Tables.documents(spark, sfDir)
      .localCheckpoint(false)
    val base = docs.filter($"doc_id" % 2 === 0)
    val delta = docs.filter($"doc_id" % 2 =!= 0)
      .select($"doc_id", $"lang", $"text").localCheckpoint(false)
    // the scheme-qualified root: java.nio would silently no-op here
    val crash = "file:" +
      java.nio.file.Files.createTempDirectory("bm25crash").toString
    val ctrl = java.nio.file.Files.createTempDirectory("bm25ctrl").toString
    TextAnalysis.bm25IndexWrite(base, crash)
    TextAnalysis.bm25IndexWrite(base, ctrl)
    assert(Bm25Ingest.applyBatch(delta, 0L, ctrl), "clean apply")
    // simulated crash: stage the batch and publish ONLY the postings
    // artifact — no _docs, no _stats, no pointer commit (the exact
    // window the round-13 advice flagged on the append-then-commit
    // protocol)
    val staged = IngestCommit.stagingDir(crash, 0L)
    TextAnalysis.bm25AppendStage(delta, staged)
    graft.core.Fs.publishParquet(spark, s"$staged/post", crash,
      IngestCommit.tag(0L))
    assert(Bm25Ingest.committedBatch(spark, crash) == -1L,
      "crash left nothing committed")
    // redelivery: the scrub must remove the orphan tagged postings and
    // the retry must land the clean-run layout exactly once
    assert(Bm25Ingest.applyBatch(delta, 0L, crash), "retry applies")
    assert(Bm25Ingest.committedBatch(spark, crash) == 0L)
    def census(p: String) = (
      spark.read.parquet(p).count(),
      spark.read.parquet(s"$p/_docs").count(),
      spark.read.parquet(s"$p/_stats")
        .agg(fsum("nd"), fsum("tl")).head().toSeq)
    assert(census(crash) == census(ctrl),
      "crash-retry layout diverges from the clean run")
    assert(TextAnalysis.bm25Probe(spark, crash, TextAnalysis.Bm25Query)
        .collect().toSeq ==
      TextAnalysis.bm25Probe(spark, ctrl, TextAnalysis.Bm25Query)
        .collect().toSeq, "probe diverges after crash-retry")
    // staging dir cleaned; replay of the committed id refused untouched
    assert(!graft.core.Fs.exists(spark, staged))
    assert(!Bm25Ingest.applyBatch(delta, 0L, crash), "replay refused")
    assert(census(crash) == census(ctrl))
    spark.catalog.clearCache()
  }

  test("bm25 CRUD maintenance stream: a mixed add/del feed in slices " +
    "lands probe == rebuild-on-survivors with exact stats; add+del of " +
    "the same doc in ONE batch nets to a tombstone; replay refused") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    import graft.streaming.Bm25Maintain
    import org.apache.spark.sql.functions.{sum => fsum}
    implicit val sc = spark.sqlContext
    val docs = graft.core.Tables.documents(spark, sfDir)
      .localCheckpoint(false)
    val base = docs.filter($"doc_id" % 2 === 0)
    val adds = docs.filter($"doc_id" % 2 =!= 0)
      .select(lit("add").as("op"), $"doc_id", $"lang", $"text")
      .as[(String, Long, String, String)].collect().toSeq
    // dels hit BOTH base docs and streamed adds; ordered after every
    // add so the final state is slicing-invariant
    val dels = docs.filter($"doc_id" % 7 === 3)
      .select(lit("del").as("op"), $"doc_id", lit(null: String),
        lit(null: String))
      .as[(String, Long, String, String)].collect().toSeq
    val feed = adds ++ dels
    val tmp = java.nio.file.Files.createTempDirectory("bm25mnt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bm25mnt_ck").toString
    TextAnalysis.bm25IndexWrite(base, tmp)
    val input = MemoryStream[(String, Long, String, String)]
    val q = Bm25Maintain.bm25MaintainStream(
      input.toDF().toDF("op", "doc_id", "lang", "text"), tmp, ckpt)
    try feed.grouped(feed.size / 4 + 1).foreach { s =>
      input.addData(s); q.processAllAvailable()
    } finally q.stop()
    val streamed = TextAnalysis.bm25Probe(spark, tmp,
      TextAnalysis.Bm25Query).collect().toSeq
    // control: rebuild on the survivors only
    val rebuilt = java.nio.file.Files.createTempDirectory("bm25mrb").toString
    TextAnalysis.bm25IndexWrite(docs.filter($"doc_id" % 7 =!= 3), rebuilt)
    val fresh = TextAnalysis.bm25Probe(spark, rebuilt,
      TextAnalysis.Bm25Query).collect().toSeq
    assert(streamed == fresh,
      "probe after CRUD stream must equal a rebuild on survivors")
    // stats exactness: the summed deltas equal the survivor stats
    def stats(p: String) = spark.read.parquet(s"$p/_stats")
      .agg(fsum("nd"), fsum("tl")).head()
    assert(stats(tmp) == stats(rebuilt),
      "summed stats deltas diverge from the survivor rebuild")
    // replay refused untouched
    val committed = Bm25Maintain.committedBatch(spark, tmp)
    assert(committed >= 0L)
    val before = (stats(tmp), spark.read.parquet(tmp).count())
    assert(!Bm25Maintain.applyBatch(
      Seq(("del", 2L, null: String, null: String))
        .toDF("op", "doc_id", "lang", "text"), committed, tmp),
      "replay must be refused")
    assert((stats(tmp), spark.read.parquet(tmp).count()) == before)
    // within-batch ordering: add X' then delete X' in ONE batch ends
    // tombstoned with stats unchanged (the add's delta nets against
    // the delete's)
    val x = docs.orderBy($"doc_id".desc).select($"lang", $"text")
      .head()
    val newId = docs.agg(max($"doc_id")).head().getLong(0) + 1000L
    assert(Bm25Maintain.applyBatch(
      Seq(("add", newId, x.getString(0), x.getString(1)),
        ("del", newId, null: String, null: String))
        .toDF("op", "doc_id", "lang", "text"), committed + 1L, tmp))
    assert(stats(tmp) == stats(rebuilt),
      "within-batch add+del must net to zero stats delta")
    assert(TextAnalysis.bm25Probe(spark, tmp, TextAnalysis.Bm25Query)
      .collect().toSeq == fresh,
      "within-batch add+del must leave the probe unchanged")
    spark.catalog.clearCache()
  }

  test("snapshot-diff drives index maintenance: diff(A,B) rendered as " +
    "a CRUD feed (removed/modified -> del of the old id, added -> " +
    "add, modified re-adds under FRESH ids per the no-id-reuse " +
    "contract) lands probe == rebuild on the renumbered snapshot B") {
    import spark.implicits._
    import graft.operators.{Pipeline, TextAnalysis}
    import graft.streaming.Bm25Maintain
    import org.apache.spark.sql.functions.{sum => fsum}
    implicit val sc = spark.sqlContext
    val docsA = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang", $"text").localCheckpoint(false)
    // q111's synthetic snapshot B: %7==0 removed, %5==0 texts updated,
    // %11==0 re-added as fresh negative-id docs
    val b = docsA.filter($"doc_id" % 7 =!= 0)
      .select($"doc_id", $"lang",
        when($"doc_id" % 5 === 0, concat($"text", lit(" updated")))
          .otherwise($"text").as("text"))
      .unionByName(docsA.filter($"doc_id" % 11 === 0)
        .select((-$"doc_id" - 1).as("doc_id"), $"lang",
          concat($"text", lit(" new")).as("text")))
      .localCheckpoint(false)
    val diff = Pipeline.snapshotDiff(docsA, b).localCheckpoint(false)
    val Off = 1000000000L
    val bTxt = b.select($"doc_id", $"lang".as("b_lang"),
      $"text".as("b_text"))
    val dels = diff.filter($"status".isin("removed", "modified"))
      .select(lit("del").as("op"), $"doc_id",
        lit(null: String).as("lang"), lit(null: String).as("text"))
    val adds = diff.filter($"status" === "added").join(bTxt, "doc_id")
      .select(lit("add").as("op"), $"doc_id",
        $"b_lang".as("lang"), $"b_text".as("text"))
      .unionByName(diff.filter($"status" === "modified")
        .join(bTxt, "doc_id")
        .select(lit("add").as("op"), ($"doc_id" + Off).as("doc_id"),
          $"b_lang".as("lang"), $"b_text".as("text")))
    val feed = (adds.as[(String, Long, String, String)].collect() ++
      dels.as[(String, Long, String, String)].collect()).toSeq
    assert(feed.exists(_._1 == "del") && feed.count(_._1 == "add") > 2,
      "fixture must exercise all three diff statuses")
    val tmp = java.nio.file.Files.createTempDirectory("diffmnt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("diffmnt_ck").toString
    TextAnalysis.bm25IndexWrite(docsA, tmp)
    val input = MemoryStream[(String, Long, String, String)]
    val q = Bm25Maintain.bm25MaintainStream(
      input.toDF().toDF("op", "doc_id", "lang", "text"), tmp, ckpt)
    try feed.grouped(feed.size / 3 + 1).foreach { s =>
      input.addData(s); q.processAllAvailable()
    } finally q.stop()
    // control: snapshot B with modified docs renumbered (the id-
    // versioning discipline the id-based tombstone filter requires)
    val modIds = diff.filter($"status" === "modified")
      .select($"doc_id", lit(1L).as("m"))
    val bPrime = b.join(broadcast(modIds), Seq("doc_id"), "left")
      .select(when($"m".isNotNull, $"doc_id" + Off)
        .otherwise($"doc_id").as("doc_id"), $"lang", $"text")
    val rebuilt = java.nio.file.Files.createTempDirectory("diffmrb").toString
    TextAnalysis.bm25IndexWrite(bPrime, rebuilt)
    val streamed = TextAnalysis.bm25Probe(spark, tmp,
      TextAnalysis.Bm25Query).collect().toSeq
    val fresh = TextAnalysis.bm25Probe(spark, rebuilt,
      TextAnalysis.Bm25Query).collect().toSeq
    assert(streamed == fresh,
      "diff-driven maintenance must equal a rebuild on snapshot B'")
    def stats(p: String) = spark.read.parquet(s"$p/_stats")
      .agg(fsum("nd"), fsum("tl")).head()
    assert(stats(tmp) == stats(rebuilt),
      "summed stats deltas diverge from the snapshot-B' rebuild")
    spark.catalog.clearCache()
  }

  test("ingest commit crash-point law: for EVERY crash window in the " +
    "protocol (post-stage, each partial-publish prefix, full publish " +
    "without commit) a redelivered batch converges to the clean-run " +
    "layout") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    import graft.streaming.{Bm25Ingest, IngestCommit}
    import org.apache.spark.sql.functions.{sum => fsum}
    val docs = graft.core.Tables.documents(spark, sfDir)
      .localCheckpoint(false)
    val base = docs.filter($"doc_id" % 2 === 0)
    val delta = docs.filter($"doc_id" % 2 =!= 0)
      .select($"doc_id", $"lang", $"text").localCheckpoint(false)
    val ctrl = java.nio.file.Files.createTempDirectory("cp_ctrl").toString
    TextAnalysis.bm25IndexWrite(base, ctrl)
    assert(Bm25Ingest.applyBatch(delta, 0L, ctrl))
    def census(p: String) = (
      spark.read.parquet(p).count(),
      spark.read.parquet(s"$p/_docs").count(),
      spark.read.parquet(s"$p/_stats")
        .agg(fsum("nd"), fsum("tl")).head().toSeq)
    val want = census(ctrl)
    // crash points: publish 0, 1, 2 or all 3 artifacts (in protocol
    // order), never commit — plus the stage-only window (publish 0)
    val artifacts = Seq("post" -> "", "docs" -> "_docs",
      "stats" -> "_stats")
    for (published <- 0 to artifacts.size) {
      val tmp = java.nio.file.Files
        .createTempDirectory(s"cp_$published").toString
      TextAnalysis.bm25IndexWrite(base, tmp)
      val staged = IngestCommit.stagingDir(tmp, 0L)
      TextAnalysis.bm25AppendStage(delta, staged)
      artifacts.take(published).foreach { case (sub, destSub) =>
        val dest = if (destSub.isEmpty) tmp else s"$tmp/$destSub"
        graft.core.Fs.publishParquet(spark, s"$staged/$sub", dest,
          IngestCommit.tag(0L))
      }
      assert(Bm25Ingest.committedBatch(spark, tmp) == -1L)
      assert(Bm25Ingest.applyBatch(delta, 0L, tmp),
        s"retry after crash point $published must apply")
      assert(census(tmp) == want,
        s"crash point $published did not converge to the clean run")
      assert(TextAnalysis.bm25Probe(spark, tmp, TextAnalysis.Bm25Query)
          .collect().toSeq ==
        TextAnalysis.bm25Probe(spark, ctrl, TextAnalysis.Bm25Query)
          .collect().toSeq, s"probe diverges at crash point $published")
    }
    spark.catalog.clearCache()
  }

  test("ivf ingest stream: probe after streaming an embedding batch in " +
    "slices equals batch ivfAppend of the same rows; replayed " +
    "micro-batches leave the layout untouched") {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.streaming.IvfIngest
    implicit val sc = spark.sqlContext
    val rootA = java.nio.file.Files.createTempDirectory("ivfingA").toString
    val rootB = java.nio.file.Files.createTempDirectory("ivfingB").toString
    // ivfLearned is deterministic (integer-snapped Lloyd), so two
    // setups from the same corpus are identical layouts
    FullIvf.build(spark, sfDir, rootA)
    FullIvf.build(spark, sfDir, rootB)
    val maxId = spark.read.parquet(s"$rootA/index")
      .agg(max($"vec_id")).head().getLong(0)
    // the "new crawl batch": existing vectors re-keyed past the max id
    val delta = graft.core.Tables.embeddings(spark, sfDir)
      .filter($"vec_id" % 5 === 1)
      .select(($"vec_id" + maxId + 1L).as("vec_id"), $"embedding")
      .localCheckpoint(false)
    val rows = delta.as[(Long, Seq[Float])].collect().toSeq
    val ckpt = java.nio.file.Files.createTempDirectory("ivfing_ck").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = IvfIngest.ivfIngestStream(
      input.toDF().toDF("vec_id", "embedding"), rootA, ckpt)
    try rows.grouped(rows.size / 3 + 1).foreach { s =>
      input.addData(s); q.processAllAvailable()
    } finally q.stop()
    // control: ONE batch ivfAppend of the same rows against the same
    // frozen centroids
    FullIvf.append(spark, rootB, delta)
    def census(root: String) = spark.read.parquet(s"$root/index")
      .groupBy($"cell").agg(count(lit(1)).as("n"), sum($"vec_id").as("sv"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(census(rootA) == census(rootB),
      "streamed cells diverge from batch ivfAppend")
    assert(FullIvf.probe(spark, rootA,
        excludeVecId = Some(0L)).collect().toSeq ==
      FullIvf.probe(spark, rootB,
        excludeVecId = Some(0L)).collect().toSeq,
      "probe after streamed ingest diverges from batch append")
    // replay: an already-committed batch id is refused untouched
    val committed = IvfIngest.committedBatch(spark, rootA)
    assert(committed >= 0L)
    val before = census(rootA)
    assert(!IvfIngest.applyBatch(delta.limit(5), committed, rootA),
      "replay must be refused")
    assert(census(rootA) == before,
      "replayed batch must leave the layout untouched")
    spark.catalog.clearCache()
  }
}
