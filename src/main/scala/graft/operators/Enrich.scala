package graft.operators

/** Kernels behind the enrichment-function families. */
object Enrich {

  /** Geohash codec (public algorithm: interleaved lat/lon bisection,
    * base-32 alphabet without a/i/l/o). JIT'd loops, per-row only.
    */
  private[operators] object GeoKernel extends Serializable {
    private val base32 = "0123456789bcdefghjkmnpqrstuvwxyz"

    def geohashEncode(lat: Double, lon: Double, precision: Int): String = {
      var latLo = -90.0; var latHi = 90.0
      var lonLo = -180.0; var lonHi = 180.0
      val sb = new StringBuilder(precision)
      var isLon = true
      var bit = 0
      var ch = 0
      while (sb.length < precision) {
        if (isLon) {
          val mid = (lonLo + lonHi) / 2
          if (lon >= mid) { ch = ch * 2 + 1; lonLo = mid }
          else { ch = ch * 2; lonHi = mid }
        } else {
          val mid = (latLo + latHi) / 2
          if (lat >= mid) { ch = ch * 2 + 1; latLo = mid }
          else { ch = ch * 2; latHi = mid }
        }
        isLon = !isLon
        bit += 1
        if (bit == 5) { sb.append(base32(ch)); bit = 0; ch = 0 }
      }
      sb.toString
    }

    /** Center of the cell addressed by `h`. */
    def geohashDecodeCenter(h: String): (Double, Double) = {
      var latLo = -90.0; var latHi = 90.0
      var lonLo = -180.0; var lonHi = 180.0
      var isLon = true
      var i = 0
      while (i < h.length) {
        val ch = base32.indexOf(h.charAt(i))
        require(ch >= 0, s"bad geohash char in $h")
        var b = 4
        while (b >= 0) {
          val bitSet = ((ch >> b) & 1) == 1
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
      ((latLo + latHi) / 2, (lonLo + lonHi) / 2)
    }
  }
}
