package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.AnomalyStream
import graft.streaming.AnomalyStream.Event

/** One benchmark run in one JVM: set up, warm up, measure, check.
  *
  * Drives the program only through `SparkEntry.queries`, the public
  * `AnomalyStream` detectors and `MemoRegistry.evictAll`. The load model
  * is a closed loop with one client, this thread: each call starts when
  * the previous one has returned. `run.py` generates the inputs, starts
  * this main, and turns the result file it writes into metrics.
  *
  * Arguments (all `--name value`): workload, data (input dir), work
  * (scratch dir; the run writes only there), seconds, seed, trace (0/1),
  * cpus, setups (how many set-ups to time; the first is the JVM's cold
  * one), tables (comma list to load at set-up), and either calls
  * (comma list of query keys) or slice (events per stream slice).
  */
object Harness {

  private def now(): Long = System.nanoTime()
  private def secs(a: Long, b: Long): Double = (b - a) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    new Harness(a).run()
  }
}

final class Harness(a: Map[String, String]) {
  import Harness._

  private val workload = a("workload")
  private val data = a("data")
  private val work = new File(a("work"))
  private val seconds = a("seconds").toDouble
  private val seed = a("seed").toLong
  private val cpus = a("cpus").toInt
  private val calls = a.get("calls").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  private val tracer = if (a("trace") == "1") Some(new Tracer) else None
  private val tmp = new File(work, "tmp")

  private var spark: SparkSession = _
  private val callRecs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val passRecs = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** A fresh session configured like graft.Bench's, with its inputs
    * registered: every table's footers are read once. The previous
    * session is stopped before the clock starts. */
  private def setUp(): Double = {
    SparkSession.getActiveSession.foreach(_.stop())
    graft.core.MemoRegistry.evictAll()
    val t0 = now()
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    a("tables").split(",").foreach(t =>
      spark.read.parquet(s"$data/$t.parquet").schema)
    secs(t0, now())
  }

  /** The materialize-and-scope sequence of graft.Bench.runScoped, kept
    * here so an edit there cannot change what this benchmark measures. */
  private def scope(): Unit = {
    graft.core.MemoRegistry.evictAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Per-call trace fields, read after the call returned. */
  private def traceAfter(t: Tracer, fs0: Map[String, Long], gc0: Double,
      startMs: Long): Map[String, Any] = {
    ListenerBusDrain(spark.sparkContext)
    val (disk, written) = Tracer.diskCensus(tmp, startMs)
    Map("fs" -> Tracer.delta(fs0, Tracer.fsStats()),
      "gc_s" -> (Tracer.gcSeconds() - gc0),
      "heap_after_gc_mb" -> Tracer.heapAfterGcMb(),
      "block_peak_bytes" -> t.takeBlockPeak(),
      "disk_bytes" -> disk, "files_written" -> written)
  }

  /** One timed call of a query: build the frame (the query lambda,
    * including any jobs it runs eagerly), execute it through `sink`, then
    * scope. A call that throws is recorded as failed and never timed. */
  private def call(key: String, id: String, parent: String, pass: Int,
      sink: DataFrame => Unit): Map[String, Any] = {
    val sc = spark.sparkContext
    val fs0 = tracer.map(_ => Tracer.fsStats())
    val gc0 = Tracer.gcSeconds()
    // file mtimes are whole milliseconds, and may round down
    val startMs = System.currentTimeMillis() - 1
    sc.setLocalProperty(Tracer.CallProperty, id)
    val t0 = now()
    var t1, t2 = 0L
    var error: String = null
    try {
      val df = graft.SparkEntry.queries(key)(spark, data)
      t1 = now()
      sink(df)
      t2 = now()
    } catch { case NonFatal(e) => error = e.toString.take(500) }
    finally scope()
    val t3 = now()
    sc.setLocalProperty(Tracer.CallProperty, null)
    val base = Map("id" -> id, "key" -> key, "pass" -> pass,
      "ok" -> (error == null), "error" -> error)
    if (error != null) base
    else {
      tracer.foreach { t =>
        t.span(id, parent, key, "bench.call", t0, t3)
        t.span(id + "/build", id, "build", "bench.build", t0, t1)
        t.span(id + "/execute", id, "execute", "bench.execute", t1, t2)
        t.span(id + "/cleanup", id, "cleanup", "bench.cleanup", t2, t3)
      }
      base ++ Map("start_ms" -> tracer.map(_.nsToMs(t0)),
        "wall_s" -> secs(t0, t3), "build_s" -> secs(t0, t1),
        "execute_s" -> secs(t1, t2), "cleanup_s" -> secs(t2, t3)) ++
        tracer.map(t => traceAfter(t, fs0.get, gc0, startMs))
          .getOrElse(Map.empty)
    }
  }

  /** Closed loop over whole passes: start another pass while the one
    * just measured would still end within the run length. */
  private def timedPasses(pass: (Int, String) => Unit): Unit = {
    val start = now()
    var last = 0.0
    var p = 0
    while (p == 0 || secs(start, now()) + last <= seconds) {
      p += 1
      val id = s"pass$p"
      val t0 = now()
      pass(p, id)
      val t1 = now()
      last = secs(t0, t1)
      passRecs += Map("pass" -> p, "wall_s" -> last)
      tracer.foreach(_.span(id, "workload", id, "bench.pass", t0, t1))
    }
  }

  // ---- batch workloads --------------------------------------------------

  private def batch(): Map[String, Any] = {
    val outputs = new File(work, "outputs")
    val warm0 = now()
    // Warm-up pass: the first execution of every call, which writes the
    // output the oracle check reads once the timed passes are over.
    calls.zipWithIndex.foreach { case (k, i) =>
      callRecs += call(k, s"warm.c$i.$k", "warmup", 0, df =>
        df.write.mode("overwrite").parquet(new File(outputs, k).getPath))
    }
    val warm1 = now()
    tracer.foreach(_.span("warmup", "workload", "warmup", "bench.warmup",
      warm0, warm1))
    val warm = secs(warm0, warm1)
    val rng = new scala.util.Random(seed)
    timedPasses { (p, id) =>
      rng.shuffle(calls).zipWithIndex.foreach { case (k, i) =>
        callRecs += call(k, s"$id.c$i.$k", id, p, noop)
      }
    }
    // the packs run.py reports operators.<Pack>.job_s for
    val packs = Seq(graft.operators.Dedup, graft.operators.Similarity)
    Map("warmup_s" -> warm,
      "oracle_sql" -> calls.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap,
      "packs" -> calls.map(k => k -> packs.find(_.queries.contains(k))
        .map(_.getClass.getSimpleName.stripSuffix("$")).getOrElse("")).toMap)
  }

  // ---- stream_detect ----------------------------------------------------

  private case class Detector(name: String,
      start: org.apache.spark.sql.Dataset[Event] => DataFrame,
      twin: String, cols: Seq[String])

  private def detectors = Seq(
    Detector("cusum", ds => AnomalyStream.cusumStreamByType(ds).toDF(),
      "q155_cusum_by_type", Seq("hour_h", "cusum_scaled")),
    Detector("holt", ds => AnomalyStream.holtStreamByType(ds).toDF(),
      "q148_holt_by_type", Seq("hour_h", "residual_scaled")),
    Detector("episode", ds => AnomalyStream.episodeStreamByType(ds).toDF(),
      "q156_episodes_by_type", Seq("start_h", "len_h", "excess_scaled")))

  /** One pass: start the three detectors on their own MemoryStreams, feed
    * every slice to each and wait until all three are caught up, stop.
    * Each slice is one call; its latency runs from the first `addData`
    * until the last `processAllAvailable` returns. */
  private def feed(slices: Seq[Array[Event]], pass: Int, id: String)
      : Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = s.sqlContext
    val sc = s.sparkContext
    sc.setLocalProperty(Tracer.CallProperty, id)
    val inputs = detectors.map(_ => MemoryStream[Event])
    val queries: Seq[StreamingQuery] = detectors.zip(inputs).map {
      case (d, in) => d.start(in.toDS()).writeStream.outputMode("append")
        .format("memory").queryName(s"${d.name}_p$pass").start()
    }
    try {
      var failed = false
      slices.zipWithIndex.foreach { case (rows, i) =>
        if (!failed) {
          val cid = s"$id.s$i"
          val fs0 = tracer.map(_ => Tracer.fsStats())
          val gc0 = Tracer.gcSeconds()
          val startMs = System.currentTimeMillis() - 1
          val t0 = now()
          try {
            inputs.foreach(_.addData(rows.toSeq))
            queries.foreach(_.processAllAvailable())
          } catch { case NonFatal(e) =>
            failed = true
            callRecs += Map("id" -> cid, "key" -> "slice", "pass" -> pass,
              "ok" -> false, "error" -> e.toString.take(500))
          }
          val t1 = now()
          if (!failed) {
            tracer.foreach(_.span(cid, id, "slice", "bench.call", t0, t1))
            callRecs += Map("id" -> cid, "key" -> "slice", "pass" -> pass,
              "ok" -> true, "start_ms" -> tracer.map(_.nsToMs(t0)),
              "wall_s" -> secs(t0, t1), "build_s" -> 0.0,
              "execute_s" -> secs(t0, t1), "cleanup_s" -> 0.0) ++
              tracer.map(t => traceAfter(t, fs0.get, gc0, startMs))
                .getOrElse(Map.empty)
          }
        }
      }
    } finally {
      queries.foreach(_.stop())
      sc.setLocalProperty(Tracer.CallProperty, null)
    }
  }

  /** Each detector's final per-key snapshot: from the last pass, the row
    * with the largest `seen` per event type. `run.py` compares it with the
    * detector's batch twin evaluated by its DuckDB oracle. */
  private def snapshots(lastPass: Int): Map[String, Any] =
    detectors.map { d =>
      val snap = spark.table(s"${d.name}_p$lastPass")
        .select("event_type", ("seen" +: d.cols): _*).collect()
        .groupBy(_.getString(0)).map { case (k, rs) =>
          k -> rs.maxBy(_.getLong(1)).toSeq.drop(2) }
      d.name -> Map("twin" -> d.twin, "cols" -> d.cols,
        "oracle_sql" -> graft.SparkEntry.oracleSql(d.twin), "rows" -> snap)
    }.toMap

  private def stream(): Map[String, Any] = {
    val slice = a("slice").toInt
    val s = spark
    import s.implicits._
    val rows = s.read.parquet(s"$data/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[Event].collect()
    // seeded arrival order: the detectors fold sum-maps per key, so the
    // order changes the work's interleaving, never the final snapshots
    val ordered = new scala.util.Random(seed).shuffle(rows.toSeq).toArray
    val slices = ordered.grouped(slice).toSeq
    val warm0 = now()
    // a third of the feed: every stage of a pass runs, JIT-compiled
    feed(slices.take((slices.size + 2) / 3), 0, "warmup")
    val warm1 = now()
    tracer.foreach(_.span("warmup", "workload", "warmup", "bench.warmup",
      warm0, warm1))
    val warm = secs(warm0, warm1)
    var lastPass = 0
    timedPasses { (p, id) => feed(slices, p, id); lastPass = p }
    Map("warmup_s" -> warm, "events" -> rows.length,
      "snapshots" -> snapshots(lastPass))
  }

  private def vmHwmMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case NonFatal(_) => -1.0 }

  def run(): Unit = {
    tmp.mkdirs()
    val load0 = graft.Bench.loadAvg()
    val setups = (1 to a("setups").toInt).map(_ => setUp())
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.streams.addListener(t.streamListener)
    }
    val t0 = now()
    val body = if (calls.nonEmpty) batch() else stream()
    val t1 = now()
    tracer.foreach { t =>
      t.span("workload", "", workload, "bench.workload", t0, t1)
    }
    val load1 = graft.Bench.loadAvg()
    tracer.foreach(_ => ListenerBusDrain(spark.sparkContext))
    val result = body ++ Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setups,
      "calls" -> callRecs, "passes" -> passRecs,
      "peak_rss_mb" -> vmHwmMb(),
      "host" -> Map(
        "load_before" -> load0.map(l => Seq(l._1, l._2, l._3)),
        "load_after" -> load1.map(l => Seq(l._1, l._2, l._3)),
        "cpu_probe_s" -> graft.Bench.cpuProbe(reps = 1)),
      "trace" -> tracer.map(t => Map("jobs" -> t.jobRecords(),
        "spans" -> t.spans, "progress" -> t.progress)))
    spark.stop()
    Files.write(new File(work, "result.json").toPath,
      Json.render(result).getBytes(UTF_8))
  }
}
