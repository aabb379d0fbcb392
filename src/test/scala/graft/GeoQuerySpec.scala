package graft

import graft.operators.Geo
import graft.functions.geo
import org.apache.spark.sql.functions._

/** End-to-end geo pipeline against the reference's own materialized
  * geoindex (read-only under /root/reference/results/geoindex) — the
  * de-facto golden dataset: 67,180 records in 2,413 3-char-prefix
  * partitions, with the two captured nearest-airport answers
  * (`Assignment_3.ipynb:687, 732`). The parity specs need that
  * reference and are canceled (never passed) where it is absent.
  */
class GeoQuerySpec extends SparkTestBase {
  val refIndex = "/root/reference/results/geoindex"

  lazy val routes = Geo.readRoutes(spark, refIndex).cache()

  /** Cancels a parity spec when the reference geoindex is absent. */
  private def needsReference(): Unit =
    assume(new java.io.File(refIndex).isDirectory,
      s"reference geoindex $refIndex is absent")

  test("reads the full reference geoindex") {
    needsReference()
    assert(routes.count() == 67180L)
  }

  test("re-encoding lat/lon reproduces every stored reference geohash") {
    needsReference()
    val mismatches = routes
      .filter(col("geohash").isNotNull)
      .filter(geo.geohash_encode(col("src_airport.latitude"),
        col("src_airport.longitude")) =!= col("geohash"))
      .count()
    assert(mismatches == 0L)
  }

  test("3-char prefix partitioning reproduces the reference's 2413 buckets") {
    needsReference()
    val n = routes.filter(col("geohash").isNotNull)
      .select(substring(col("geohash"), 1, 3)).distinct().count()
    assert(n == 2413L)
  }

  test("golden: nearest airport full-scan (Eppley / Astrakhan)") {
    needsReference()
    val enriched = Geo.enrichGeohash(routes.drop("geohash"))
    assert(Geo.nearestAirport(enriched, 41.1499988, -95.91779)
      == "Eppley Airfield")
    assert(Geo.nearestAirport(enriched, 46.2832984924, 48.0063018799)
      == "Astrakhan Airport")
  }

  test("index build reproduces the reference's per-prefix record counts exactly") {
    needsReference()
    import org.apache.spark.sql.functions.input_file_name
    // input_file_name() is empty on cached data, and CacheManager
    // substitutes the cached relation for ANY read of the same path —
    // so drop caches for this test (later tests re-materialize lazily)
    spark.catalog.clearCache()
    val refCounts = Geo.readRoutes(spark, refIndex)
      .withColumn("g3", regexp_extract(input_file_name(), "([0-9a-z]{1,3})\\.jsonl\\.gz$", 1))
      .groupBy("g3").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // our side: rebuild from raw records via enrichment + bucketing
    val ourCounts = Geo.enrichGeohash(routes.drop("geohash"))
      .filter(col("geohash").isNotNull)
      .groupBy(substring(col("geohash"), 1, 3).as("g3")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ourCounts.size == 2413)
    assert(ourCounts == refCounts,
      s"prefix count mismatches: ${(ourCounts.toSet diff refCounts.toSet).take(3)}")
  }

  test("golden: pruned index query matches full scan and prunes partitions") {
    needsReference()
    val tmp = java.nio.file.Files.createTempDirectory("geoidx").toString
    Geo.writeGeoIndex(routes.drop("geohash"), tmp)

    // partition pruning reaches the file source
    val prefixes = graft.functions.Geohash.neighbors(
      graft.functions.Geohash.encode(41.1499988, -95.91779, 3))
    val plan = Geo.readGeoIndex(spark, tmp)
      .filter(col("g3").isin(prefixes: _*))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("g3"),
      s"expected partition filters in plan:\n$plan")

    assert(Geo.nearestAirportPruned(spark, tmp, 41.1499988, -95.91779)
      == "Eppley Airfield")
    assert(Geo.nearestAirportPruned(spark, tmp, 46.2832984924, 48.0063018799)
      == "Astrakhan Airport")
  }

  test("pruned nearest falls back when the center cell is empty (adist divergence)") {
    import graft.functions.Geohash
    import spark.implicits._
    // find a query point whose 3-char cell sits on a 2-char parent edge
    // (so the 3x3 block crosses into a different 2-char parent)
    val (qLat, qLon) = (0 until 1000).iterator.map { k =>
      (-60.0 + (k % 25) * 5.0, -170.0 + (k / 25) * 8.5)
    }.find { case (la, lo) =>
      val c = Geohash.encode(la, lo, 3)
      Geohash.neighbors(c).exists(_.take(2) != c.take(2))
    }.get
    val center = Geohash.encode(qLat, qLon, 3)
    val block = Geohash.neighbors(center).toSet
    val nbr = block.find(_.take(2) != center.take(2)).get
    // a cell sharing the 2-char parent but OUTSIDE the 3x3 block
    val cousin = "0123456789bcdefghjkmnpqrstuvwxyz"
      .map(ch => center.take(2) + ch)
      .find(c => c != center && !block.contains(c)).get
    val (aLat, aLon) = Geohash.decode(nbr)
    val (bLat, bLon) = Geohash.decode(cousin)
    val df = Seq(("InBlockNeighbor", aLat, aLon), ("TwoCharCousin", bLat, bLon))
      .toDF("nm", "la", "lo")
      .selectExpr(
        "named_struct('name', nm, 'latitude', la, 'longitude', lo) AS src_airport")
    // adist-first ranking: the out-of-block cousin shares 2 geohash chars
    // with the query, the in-block neighbor at most 1 — the cousin is the
    // true nearest, and only the center-empty fallback can find it
    val full = Geo.nearestAirport(Geo.enrichGeohash(df), qLat, qLon)
    assert(full == "TwoCharCousin")
    val tmp = java.nio.file.Files.createTempDirectory("geodiv").toString
    Geo.writeGeoIndex(df, tmp)
    assert(Geo.nearestAirportPruned(spark, tmp, qLat, qLon) == full)
  }

  test("optimizer rule: geohash precision pushes down through substring") {
    geo.register(spark)
    val pts = spark.range(3)
      .selectExpr("cast(id as double) + 42.1 as lat",
        "cast(id as double) - 5.9 as lon")
    val df = pts.select(
      substring(geo.geohash_encode(col("lat"), col("lon"), 12), 1, 5)
        .as("g5"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("geohash_encode(") &&
      optimized.contains(", 5)"),
      s"precision must push down:\n$optimized")
    assert(!optimized.contains("substring"), optimized)
    // semantics preserved vs the unrewritten 12-char encode
    val full = pts.select(
      substring(geo.geohash_encode(col("lat"), col("lon"), 12), 1, 5)
        .as("g5"), geo.geohash_encode(col("lat"), col("lon"), 5).as("d5"))
      .collect()
    full.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("typed Dataset[Route]: compile-checked field access on a subtree") {
    val ds = Geo.readRoutesTyped(spark, routesFixture)
    val names = ds
      .filter(_.src_airport.exists(_.latitude.exists(_ > 50)))
      .map(_.src_airport.flatMap(_.name).getOrElse(""))(
        org.apache.spark.sql.Encoders.STRING)
      .collect()
    assert(names.contains("Adak Airport"))
  }

  test("SQL registration: geo functions usable from spark.sql") {
    geo.register(spark)
    val row = spark.sql(
      """SELECT geohash_encode(42.6D, -5.6D, 5) AS h,
        |  geohash_approx_distance('bcd3u', 'bc83n') AS d,
        |  round(haversine_km(48.8566D, 2.3522D, 51.5074D, -0.1278D)) AS hv,
        |  geohash_decode('ezs42').lat AS dlat""".stripMargin).head()
    assert(row.getString(0) == "ezs42")
    assert(row.getDouble(1) == 625441d)
    assert(row.getDouble(2) == 344d)
    assert(math.abs(row.getDouble(3) - 42.6) < 0.05)
  }
}
