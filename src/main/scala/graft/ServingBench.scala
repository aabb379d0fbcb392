package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Probe-only serving benchmark over PERSISTED index layouts.
  *
  * The oracle-checked q160/q162 (BM25) and q128/q139/q158 (IVF) build
  * their layouts in-query so the whole lifecycle sits under the hash
  * gate — which means their bench numbers price the BUILD together
  * with the probe. A serving deployment builds once and probes
  * millions of times; the claim that matters there is "a probe's
  * bytes-read scale with |query terms| / nprobe cells, not corpus
  * size". This main MEASURES that claim instead of inferring it from
  * the plan (the MediaBench decode-vs-encode split applied to
  * retrieval):
  *
  *   1. setup (untimed): [[graft.operators.TextAnalysis.bm25IndexWrite]]
  *      and [[graft.operators.Similarity.IvfLayout.build]] persist the
  *      BM25 and the six stored IVF layouts into a scratch root;
  *   2. measured: min-of-REPS over the probe-only paths
  *      ([[graft.operators.TextAnalysis.bm25Probe]] /
  *      [[graft.operators.Similarity.IvfLayout.probe]]), through
  *      Bench.runScoped (noop sink, cache-scoped); the in-query
  *      build+probe forms (q160, q128) run on the same session for the
  *      build-share baseline;
  *   3. prints ONE JSON line carrying, per probe, the physically
  *      scanned file/byte counts next to the layout's totals — the
  *      pruning evidence as MEASURED numbers.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (32),
  * SPARK_GRAFT_REPS (3), SPARK_GRAFT_SERVING_OUT (default
  * target/serving_layouts).
  */
object ServingBench {

  /** (filesRead, bytesRead) summed over the FileSourceScans of `df`'s
    * executed plan whose root path contains `pathSubstr` — walks
    * through AQE wrapper nodes (the PipelineOpsSpec walker).
    */
  def scanStats(df: DataFrame, pathSubstr: String): (Long, Long) = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        walk(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(walk)
    }
    // underscore sidecars (_stats/_cents/_query/_tombstones) are
    // bounded metadata reads, not the pruning claim — exclude them so
    // files_read counts POSTINGS/INDEX files alone, comparable to
    // layoutTotals' denominator
    val scans = walk(df.queryExecution.executedPlan).filter { f =>
      val roots = f.relation.location.rootPaths.map(_.toString)
      roots.exists(_.contains(pathSubstr)) && !roots.exists(_.contains("/_"))
    }
    (scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum,
      scans.map(_.metrics.get("filesSize").map(_.value).getOrElse(0L)).sum)
  }

  /** Total (files, bytes) under a layout directory, sidecar dirs
    * excluded — the denominator of the pruning ratio.
    */
  def layoutTotals(root: String): (Long, Long) = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) {
          if (f.getName.startsWith("_")) Seq.empty else files(f)
        } else if (f.getName.endsWith(".parquet")) Seq(f)
        else Seq.empty
      }
    val fs = files(new java.io.File(root))
    (fs.size.toLong, fs.map(_.length).sum)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val out = sys.env.getOrElse("SPARK_GRAFT_SERVING_OUT",
      "target/serving_layouts")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.operators.{Similarity, TextAnalysis}
    // setup, untimed (but reported: the build share a deployment
    // amortizes across every query)
    val bm25Root = s"$out/bm25"
    val tenantRoot = s"$out/bm25_tenants"
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val buildBm25 = timed(TextAnalysis.bm25IndexWrite(
      graft.core.Tables.documents(spark, sfDir), bm25Root))
    val buildTenants = timed(TextAnalysis.bm25IndexWriteTenants(
      graft.core.Tables.documents(spark, sfDir), tenantRoot))
    // the six stored IVF layouts: one quantizer rule, the index bytes
    // shrinking from full precision to 1-byte SQ8 codes to 4-byte PQ
    // codes at the same probed-cell file count, tenant layouts pruning
    // two levels — the bytes_read shrink is THE claim measured here
    val ivf = Similarity.IvfLayout.all.map { l =>
      val root = s"$out/${l.name}"
      (l, root, timed(l.build(spark, sfDir, root)))
    }
    def ivfProbe(l: Similarity.IvfLayout, root: String): DataFrame =
      l.probe(spark, root, Option.when(l.tenants)(Similarity.IvfTenants.head),
        excludeVecId = Some(0L))

    val queries: Seq[(String, () => DataFrame)] = Seq(
      "bm25_probe_only" -> (() =>
        TextAnalysis.bm25Probe(spark, bm25Root, TextAnalysis.Bm25Query)),
      "bm25_batch_probe_only" -> (() =>
        TextAnalysis.bm25ProbeBatch(spark, bm25Root, TextAnalysis.Bm25Batch)),
      "bm25_tenant_probe_only" -> (() =>
        TextAnalysis.bm25ProbeTenant(spark, tenantRoot, "en",
          TextAnalysis.Bm25Query)),
      "ivf_batch_probe_only" -> (() =>
        Similarity.ivfProbeStoredBatch(spark, ivf.head._2))) ++
      ivf.map { case (l, root, _) =>
        s"${l.name}_probe_only" -> (() => ivfProbe(l, root)) } ++ Seq(
      "inquery_q160_bm25" -> (() =>
        TextAnalysis.q160Bm25Probe(spark, sfDir)),
      "inquery_q128_ivf" -> (() =>
        Similarity.q128AnnIvfLearned(spark, sfDir)))

    queries.foreach { case (_, fn) => Bench.runScoped(spark, fn()) } // warmup
    val loadBefore = Bench.loadAvg()
    val timedQs = queries.map { case (name, fn) =>
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        Bench.runScoped(spark, fn())
        (System.nanoTime() - t0) / 1e9
      }
      name -> times.min
    }
    // pruning evidence: run each probe's PHYSICAL READ once more to a
    // collected result and read the scan metrics off the executed
    // plan. For bm25 that read is bm25LivePostings — the probe itself
    // wraps a lazy localCheckpoint around it (one scan feeding both
    // the df/idf and scoring passes), which replaces the scan with an
    // RDD in the probe's own executed plan and hides the metrics
    // (round-13 advice); the pre-checkpoint frame IS the plan the
    // checkpoint materializes, so its scan stats are the probe's.
    // Every IVF probe reads the same probed-cell file count as the
    // full-precision one at a fraction of its bytes; a tenant probe
    // reads only its own tb= dir's probed cells.
    def pruned(name: String, df: DataFrame, root: String,
        sub: String): String = {
      df.collect()
      val (f, b) = scanStats(df, sub)
      val (tf, tb) = layoutTotals(root)
      s""""$name":{"files_read":$f,"files_total":$tf,""" +
        s""""bytes_read":$b,"bytes_total":$tb}"""
    }
    val pruning = Seq(
      pruned("bm25", TextAnalysis.bm25LivePostings(spark, bm25Root,
        TextAnalysis.Bm25Query), bm25Root, "bm25"),
      // tenant pruning: the en probe must read only en-dir bucket files
      pruned("bm25_tenants", TextAnalysis.bm25TenantPostings(spark,
        tenantRoot, "en", TextAnalysis.Bm25Query), tenantRoot,
        "bm25_tenants")) ++
      ivf.map { case (l, root, _) =>
        pruned(l.name, ivfProbe(l, root), s"$root/index", s"${l.name}/index")
      }

    val host = Bench.hostJson(loadBefore, Bench.loadAvg(),
      Runtime.getRuntime.availableProcessors)
    def r4(x: Double) =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(x))
    val qs = timedQs.map { case (n, t) => s""""$n":${r4(t)}""" }.mkString(",")
    val builds = (Seq("bm25_build" -> buildBm25,
        "tenants_build" -> buildTenants) ++
      ivf.map { case (l, _, t) => s"${l.name}_build" -> t })
      .map { case (n, t) => s""""$n":${r4(t)}""" }.mkString(",")
    println(s"""{"metric":"serving_probe_only","unit":"sec","sf":"$sfDir",""" +
      s""""reps":$reps,"queries":{$qs},"setup_sec":{$builds},""" +
      s""""pruning":{${pruning.mkString(",")}},"host":$host}""")
    spark.stop()
  }
}
