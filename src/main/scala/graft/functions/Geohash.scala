package graft.functions

/** Pure-Scala geohash math (SURVEY §2.8 G1/G2).
  *
  * Semantics mirror the reference's pygeohash usage
  * (`Assignment_3.ipynb:636, 667, 706`): 12-char default precision
  * encode, and the coarse prefix-length→meters distance table —
  * pygeohash's `geohash_approximate_distance` is NOT haversine, it maps
  * the length of the common prefix to a fixed bucket in meters (golden:
  * dist("bcd3u","bc83n") == 625441, `Assignment_3.ipynb` cell 23).
  * Haversine is supplied as the exact supplement.
  *
  * Static methods so Catalyst codegen can call them directly from
  * generated Java.
  */
object Geohash {
  final val Base32 = "0123456789bcdefghjkmnpqrstuvwxyz"
  private final val Base32Idx: Array[Int] = {
    val a = Array.fill(128)(-1)
    Base32.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  /** pygeohash `_PRECISION`: meters for a common prefix of n chars.
    * Public so oracle SQL builders can emit the same table.
    */
  final val PrefixMeters: Array[Double] = Array(
    20000000d, 5003530d, 625441d, 123264d, 19545d, 3803d, 610d,
    118d, 19d, 3.71d, 0.6d)

  /** Encode a point to an n-char base-32 geohash (default 12, as the
    * reference's pygeohash.encode). Bit-interleaves longitude (even
    * bits) and latitude (odd bits), 5 bits per character.
    *
    * Bucket rule is strict `>` — a point exactly on a bisection
    * midpoint goes to the LOWER half, matching pygeohash. This matters
    * on real data: the reference's float32-derived coordinates are
    * dyadic rationals that hit midpoints exactly at depth, and `>=`
    * here breaks stored-geohash parity on thousands of rows.
    */
  def encode(lat: Double, lon: Double, precision: Int): String = {
    val sb = new java.lang.StringBuilder(precision)
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    var isLon = true
    var bit = 0; var ch = 0
    while (sb.length < precision) {
      if (isLon) {
        val mid = (lonLo + lonHi) / 2
        if (lon > mid) { ch = (ch << 1) | 1; lonLo = mid }
        else { ch = ch << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat > mid) { ch = (ch << 1) | 1; latLo = mid }
        else { ch = ch << 1; latHi = mid }
      }
      isLon = !isLon
      bit += 1
      if (bit == 5) { sb.append(Base32.charAt(ch)); bit = 0; ch = 0 }
    }
    sb.toString
  }

  def encode(lat: Double, lon: Double): String = encode(lat, lon, 12)

  /** Decode to the cell's bounding box: (latLo, latHi, lonLo, lonHi). */
  def bounds(h: String): (Double, Double, Double, Double) = {
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    var isLon = true
    var i = 0
    while (i < h.length) {
      val c = h.charAt(i).toLower
      val v = if (c < 128) Base32Idx(c.toInt) else -1
      require(v >= 0, s"invalid geohash char '$c' in '$h'")
      var b = 4
      while (b >= 0) {
        val bitSet = ((v >> b) & 1) == 1
        if (isLon) {
          val mid = (lonLo + lonHi) / 2
          if (bitSet) lonLo = mid else lonHi = mid
        } else {
          val mid = (latLo + latHi) / 2
          if (bitSet) latLo = mid else latHi = mid
        }
        isLon = !isLon
        b -= 1
      }
      i += 1
    }
    (latLo, latHi, lonLo, lonHi)
  }

  /** Decode to the cell center (lat, lon). */
  def decode(h: String): (Double, Double) = {
    val (latLo, latHi, lonLo, lonHi) = bounds(h)
    ((latLo + latHi) / 2, (lonLo + lonHi) / 2)
  }

  /** pygeohash geohash_approximate_distance: meters bucket for the
    * common-prefix length (capped at 10).
    */
  def approxDistance(h1: String, h2: String): Double = {
    val n = math.min(h1.length, h2.length)
    var i = 0
    while (i < n && Character.toLowerCase(h1.charAt(i)) ==
      Character.toLowerCase(h2.charAt(i))) i += 1
    PrefixMeters(math.min(i, 10))
  }

  final val EarthRadiusKm = 6371.0088

  /** Great-circle distance in kilometers. */
  def haversineKm(lat1: Double, lon1: Double,
                  lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.sin(dLon / 2) * math.sin(dLon / 2)
    2 * EarthRadiusKm * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** The 3×3 block of cells (self + up to 8 neighbors) around the cell
    * of `h`, used for prefix-pruned nearest-neighbor search: any point
    * within one cell width of a point in cell C lies in this block.
    * Computed by decode-center ± cell size re-encode (robust at the
    * antimeridian via longitude wrap; pole rows are clamped away).
    */
  def neighbors(h: String): Seq[String] = {
    val p = h.length
    val (latLo, latHi, lonLo, lonHi) = bounds(h)
    val latC = (latLo + latHi) / 2
    val lonC = (lonLo + lonHi) / 2
    val dLat = latHi - latLo
    val dLon = lonHi - lonLo
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = -1
    while (i <= 1) {
      var j = -1
      while (j <= 1) {
        val la = latC + i * dLat
        var lo = lonC + j * dLon
        if (lo > 180) lo -= 360
        if (lo < -180) lo += 360
        if (la > -90 && la < 90) out += encode(la, lo, p)
        j += 1
      }
      i += 1
    }
    out.toSeq
  }
}
