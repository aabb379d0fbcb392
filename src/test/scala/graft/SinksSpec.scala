package graft

import graft.core.RouteSchema
import graft.operators.Geo
import graft.sources.{AvroSink, Ingest, ProtoSink, ProtoWire}
import org.apache.spark.sql.functions._

class SinksSpec extends SparkTestBase {

  lazy val routes = Geo.readRoutes(spark, routesFixture).cache()

  test("orc sink: native columnar write, lossless roundtrip with " +
    "predicate pushdown reaching the ORC scan") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("orc").toString
    val docs = graft.core.Tables.documents(spark, sfDir)
    docs.write.mode("overwrite").orc(out)
    assert(new java.io.File(out).listFiles()
      .exists(_.getName.endsWith(".orc")))
    val back = spark.read.orc(out)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"text", $"lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    assert(canon(back) == canon(docs))
    // ORC scans take pushed filters like parquet — the format is a
    // drop-in for every sink in this library
    val plan = back.filter($"doc_id" > 100L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("doc_id"),
      plan.take(1200))
  }

  test("avro sink: executor-partitioned write, lossless roundtrip") {
    val out = java.nio.file.Files.createTempDirectory("avro").toString
    val sample = routes.limit(200).cache()
    AvroSink.write(sample, out)
    assert(new java.io.File(out).listFiles().exists(_.getName.endsWith(".avro")))
    val back = AvroSink.read(spark, out, sample.schema)
    assert(back.count() == sample.count())
    // content equality via symmetric except on a projection
    val proj = Seq("airline.airline_id", "src_airport.name",
      "src_airport.latitude", "equipment", "codeshare", "geohash")
    val a = sample.select(proj.map(col): _*)
    val b = back.select(proj.map(col): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("avro sink: write and read resolve through the Hadoop FS layer (file: URI)") {
    // a scheme-qualified URI never resolves through java.io.File — this
    // drives the same FileSystem dispatch an s3a:// or hdfs:// path takes
    val out = "file://" + java.nio.file.Files.createTempDirectory("avrofs")
    val sample = routes.limit(50)
    AvroSink.write(sample, out)
    val back = AvroSink.read(spark, out, sample.schema)
    assert(back.count() == sample.count())
    assert(back.select("geohash").exceptAll(sample.select("geohash")).count() == 0)
  }

  test("avro sink: timestamp/date/decimal/binary columns survive the roundtrip") {
    // these all map to Avro STRING/BYTES — the writer must stringify/
    // wrap, not hand GenericDatumWriter the raw JVM object
    val df = spark.sql(
      """SELECT TIMESTAMP '2024-03-01 12:34:56.789' AS ts,
        |  DATE '2024-03-01' AS d,
        |  CAST(12345.6789 AS DECIMAL(18,4)) AS dec,
        |  CAST('bytes!' AS BINARY) AS bin,
        |  42L AS id""".stripMargin)
    val out = java.nio.file.Files.createTempDirectory("avrots").toString
    AvroSink.write(df, out)
    val back = AvroSink.read(spark, out, df.schema)
    val (exp, got) = (df.head(), back.head())
    assert(got.getTimestamp(0) == exp.getTimestamp(0))
    assert(got.getDate(1).toString == exp.getDate(1).toString)
    assert(got.getDecimal(2).compareTo(exp.getDecimal(2)) == 0)
    assert(java.util.Arrays.equals(got.getAs[Array[Byte]](3),
      exp.getAs[Array[Byte]](3)))
    assert(got.getLong(4) == 42L)
  }

  test("avro read: a limit abandons the iterator mid-file; the task hook still closes the handle") {
    val out = java.nio.file.Files.createTempDirectory("avroleak").toString
    val sample = routes.limit(200).coalesce(1) // one container, 200 records
    AvroSink.write(sample, out)
    val one = AvroSink.read(spark, out, sample.schema).limit(1).collect()
    assert(one.length == 1)
    assert(AvroSink.openHandles.get() == 0,
      "abandoned reader leaked its FsInput (exhaustion close never ran)")
    // the exhaustion path balances the counter too
    assert(AvroSink.read(spark, out, sample.schema).count() == 200)
    assert(AvroSink.openHandles.get() == 0)
  }

  test("partition-aware compaction: 2-level tree compacts per leaf, lossless") {
    import graft.sources.Compaction
    val docs = graft.core.Tables.documents(spark, sfDir)
      .withColumn("b", (col("doc_id") % 2).cast("int"))
    val in = java.nio.file.Files.createTempDirectory("pfrag").toString
    docs.repartition(8).write.partitionBy("lang", "b")
      .mode("overwrite").parquet(in) // up to 8 files per leaf
    val out = java.nio.file.Files.createTempDirectory("pcompact").toString
    val plan = Compaction.compactPartitioned(spark, in, out, targetMB = 256)
    assert(plan.nonEmpty && plan.forall(_._1.matches("lang=[^/]+/b=\\d")),
      s"leaves must be the 2-level partition dirs: $plan")
    // per-partition file counts land ON the per-leaf target
    plan.foreach { case (rel, nf) =>
      val n = new java.io.File(s"$out/$rel").listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(n == nf, s"$rel: $n files, target $nf")
    }
    // layout preserved: partition discovery + pruning behave as on `in`
    val back = spark.read.parquet(out)
    val pruned = back.filter(col("lang") === "en" && col("b") === 0)
      .queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters") && pruned.contains("lang"),
      pruned.take(1500))
    // lossless round-trip, full column set
    val cols = docs.columns.sorted.toSeq
    val a = docs.select(cols.map(c => col(c).cast("string")): _*)
    val b = back.select(cols.map(c => col(c).cast("string")): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("compaction: write sizing collapses a fragmented dataset") {
    import graft.sources.Compaction
    val docs = graft.core.Tables.documents(spark, sfDir)
    val frag = java.nio.file.Files.createTempDirectory("frag").toString
    docs.repartition(64).write.mode("overwrite").parquet(frag) // 64 shards
    def nFiles(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles(frag) == 64)
    val out = java.nio.file.Files.createTempDirectory("compact").toString
    Compaction.compactParquet(spark, frag, out, targetMB = 256)
    // 500 small docs ≪ 256MB: everything collapses into one file
    assert(nFiles(out) == 1, s"expected 1 compacted file, got ${nFiles(out)}")
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).count() == 0)
  }

  test("schema evolution: mergeSchema unifies writes with added columns") {
    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString
    // epoch 1: original schema; epoch 2: adds a quality column
    docs.limit(100).write.parquet(s"$dir/e=1")
    docs.limit(50).withColumn("quality", length(col("text")) / 100.0)
      .write.parquet(s"$dir/e=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.contains("quality"))
    assert(merged.count() == 150)
    // epoch-1 rows read the evolved column as null
    assert(merged.filter(col("e") === 1 && col("quality").isNotNull)
      .count() == 0)
    assert(merged.filter(col("e") === 2 && col("quality").isNull).count() == 0)
  }

  test("avro schema generation fixes the reference's type bugs") {
    val s = AvroSink.toAvroSchema(RouteSchema.routeSchema, "route")
    val str = s.toString
    // latitude must be double (avro ref schema wrongly declared long)
    assert(str.contains("\"name\":\"latitude\",\"type\":[\"null\",\"double\"]"))
  }

  test("protobuf wire sink: roundtrip count + field-level decode + snappy") {
    val out = java.nio.file.Files.createTempDirectory("pb").toString
    val sample = routes.limit(500).cache()
    val n = sample.count()
    assert(n == 500L, s"need a full limit batch, got $n")
    ProtoSink.write(sample, out, snappy = false)
    assert(ProtoSink.readRouteCount(out) == n)
    val outS = java.nio.file.Files.createTempDirectory("pbs").toString
    ProtoSink.write(sample, outS, snappy = true)
    assert(ProtoSink.readRouteCount(outS) == n)
    // snappy actually compresses
    def size(d: String) = new java.io.File(d).listFiles().map(_.length).sum
    assert(size(outS) < size(out))

    // field-level: first route's airline name survives the wire
    val row = sample.head()
    val bytes = ProtoSink.routeBytes(row)
    val airlineMsg = ProtoWire.decode(bytes)
      .find(t => t._1 == 1 && t._2 == 2).get._3.asInstanceOf[Array[Byte]]
    val name = ProtoWire.decode(airlineMsg)
      .find(t => t._1 == 2).map(t =>
        new String(t._3.asInstanceOf[Array[Byte]], "UTF-8"))
    assert(name == Option(row.getStruct(0).getString(1)))
    // airline active (field 8) present with default false semantics
    assert(ProtoWire.decode(airlineMsg).exists(_._1 == 8))
  }

  test("varint encoding matches protobuf spec vectors") {
    val o = new java.io.ByteArrayOutputStream()
    ProtoWire.writeVarint(o, 300L)
    assert(o.toByteArray.toSeq == Seq(0xAC.toByte, 0x02.toByte)) // spec example
  }

  test("F1 validation: corrupt rows route, missing required fields flagged") {
    val dir = java.nio.file.Files.createTempDirectory("val").toString
    val lines = Seq(
      """{"airline": {"airline_id": 1, "name": "A", "active": true}, "src_airport": {"airport_id": 7, "name": "X", "latitude": 1.5, "longitude": 2.5}, "codeshare": false, "equipment": ["73W"]}""",
      """{"airline": {"airline_id": 2, "name": "B", "active": false}, "src_airport": {"airport_id": 8, "name": "Y", "latitude": 3.5, "longitude": 4.5}, "codeshare": true, "equipment": []}""",
      """this is not json at all {{{""",
      """{"airline": {"airline_id": 3, "name": "C"}, "src_airport": {"airport_id": 9, "name": "Z", "longitude": 9.9}, "codeshare": false}"""
    )
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "rows.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    val df = Ingest.readJsonValidated(spark, dir, RouteSchema.routeSchema,
      Seq("src_airport", "src_airport.latitude", "src_airport.longitude"))
    val (ok, bad) = Ingest.validateAndSplit(df)
    assert(ok.count() == 2)
    assert(bad.count() == 2)
    // the unparseable line keeps its raw text for error routing
    assert(bad.filter(col(Ingest.CorruptCol).contains("not json")).count() == 1)
    // the missing-latitude row is invalid but parsed (airline_id present)
    assert(bad.filter(col("airline.airline_id") === 3).count() == 1)
  }

  test("JSON-Schema rendering from the canonical StructType") {
    val js = RouteSchema.toJsonSchema()
    assert(js.contains("\"latitude\": {\"type\": \"number\"}"))
    assert(js.contains("\"equipment\": {\"type\": \"array\""))
    // parses as JSON (oracle-side sanity via the driver's python is
    // out of scope here; structural spot checks suffice)
    assert(js.startsWith("{") && js.endsWith("}"))
  }
}
