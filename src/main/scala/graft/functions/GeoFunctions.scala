package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure-column geodesic math — the Spark twin of the reference's
  * haversine kernel (`/root/reference/src/crawl_first/geospatial.py:51-58`).
  * Built entirely from codegen'd builtin functions: no UDF, stays inside
  * whole-stage codegen.
  */
object GeoFunctions {
  val EarthRadiusKm = 6371.0088

  /** Great-circle distance in kilometres. */
  def haversineKm(latA: Column, lonA: Column, latB: Column, lonB: Column): Column = {
    val dLat = radians(latB - latA) / 2
    val dLon = radians(lonB - lonA) / 2
    lit(2.0) * lit(EarthRadiusKm) * asin(sqrt(
      pow(sin(dLat), 2) +
        cos(radians(latA)) * cos(radians(latB)) * pow(sin(dLon), 2)))
  }
}
