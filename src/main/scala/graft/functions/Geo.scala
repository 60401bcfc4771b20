package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geodesic column functions.
  *
  * Re-expresses the haversine family of the reference
  * (/root/reference/src/argostats/atlas.py:48-80) as composable `Column`
  * expressions built from codegen'd built-ins — no UDFs, so they stay
  * inside whole-stage codegen and remain filter-pushdown-friendly.
  */
object Geo {
  val EarthRadiusKm = 6371.0

  /** The "haversine argument" hav(d) = sin²(Δφ/2) + cosφ₁·cosφ₂·sin²(Δλ/2).
    * This is the quantity the reference thresholds and weights on directly
    * (atlas.py:59-66,104-113): it is monotone in distance, cheaper than the
    * full arc, and bounded [0, 1]. */
  def haversineArg(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val sdlat = sin(radians(lat2 - lat1) / 2)
    val sdlon = sin(radians(lon2 - lon1) / 2)
    sdlat * sdlat + cos(radians(lat1)) * cos(radians(lat2)) * sdlon * sdlon
  }

  /** Exact great-circle distance in km (atlas.py:48-56). */
  def haversineKm(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    lit(2 * EarthRadiusKm) * asin(sqrt(haversineArg(lon1, lat1, lon2, lat2)))

  /** Gaussian kernel weight exp(-d) used by the reference's weighted means
    * (atlas.py:104-108); `d` is in haversine-arg space, NOT km. */
  def gaussianWeight(havArg: Column, scale: Column): Column = exp(-havArg * scale)

  /** Spatial bin index for the binned neighborhood join: floor((v - lo)/w).
    * Profiles get ONE bin; the (small) grid side explodes to all bins within
    * the search radius, turning the reference's O(cells × profiles) tile scan
    * (atlas.py:268-307) into a broadcast hash equi-join. */
  def binIndex(v: Column, lo: Double, width: Double): Column =
    floor((v - lit(lo)) / lit(width)).cast("long")
}
