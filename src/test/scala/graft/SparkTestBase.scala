package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for all suites (JVM-wide singleton —
  * repeated getOrCreate returns the same session, keeping test startup
  * at one JVM spin-up).
  */
trait SparkTestBase extends AnyFunSuite
    with org.scalatest.BeforeAndAfterEach {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"
  /** 520 FIXTURES.md §1 route records (tools/gen_routes_fixture.py). */
  val routesFixture: String =
    new java.io.File(getClass.getResource("/routes").toURI).getPath

  /** Caches are test-local: queries that .cache() intra-query frames
    * (q26/q112/q122, ...) must not leak them across tests — a cached
    * frame substitutes into ANY later plan with the same canonical
    * result (CacheManager matches on sameResult, ignoring aliases), so
    * a PlanSpec scan-count in a LATER suite would silently read the
    * cache and assert against the wrong physical plan. Same discipline
    * as Verify/Bench's per-query clearCache.
    */
  override protected def afterEach(): Unit = {
    try SparkTestBase.session.catalog.clearCache()
    finally super.afterEach()
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
