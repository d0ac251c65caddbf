package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.udf

/** Column-level bindings for the geo/criterion kernel.
  *
  * These are non-boxing primitive UDFs (all-Double/Long signatures) so they
  * evaluate inside whole-stage-codegen'd projections without Row boxing.
  * The queries are written so a cheap built-in time-cut predicate runs
  * BEFORE these are invoked (Catalyst won't reorder around an opaque UDF —
  * SURVEY.md §4).
  */
object Kernel {

  val chordDistanceUdf =
    udf((lat1: Double, lon1: Double, h1: Double,
         lat2: Double, lon2: Double, h2: Double) =>
      Geo.chordDistance(lat1, lon1, h1, lat2, lon2, h2))

  val scoreGeoUdf =
    udf((s1: Long, lat1: Double, lon1: Double, h1: Double,
         s2: Long, lat2: Double, lon2: Double, h2: Double) =>
      Criterion.scoreGeo(s1, lat1, lon1, h1, s2, lat2, lon2, h2))

  val geohashUdf = udf((lat: Double, lon: Double, len: Int) => Geo.geohash(lat, lon, len))

  def chord_distance(lat1: Column, lon1: Column, h1: Column,
                     lat2: Column, lon2: Column, h2: Column): Column =
    chordDistanceUdf(lat1, lon1, h1, lat2, lon2, h2)

  def score_geo(s1: Column, lat1: Column, lon1: Column, h1: Column,
                s2: Column, lat2: Column, lon2: Column, h2: Column): Column =
    scoreGeoUdf(s1, lat1, lon1, h1, s2, lat2, lon2, h2)

  def geohash_enc(lat: Column, lon: Column, len: Column): Column =
    geohashUdf(lat, lon, len)

  /** Also register for SQL use (each name once: replacing a registered
    * function logs a WARN line). */
  def register(spark: SparkSession): Unit =
    for ((name, f) <- Seq("chord_distance" -> chordDistanceUdf,
                          "score_geo" -> scoreGeoUdf,
                          "geohash_enc" -> geohashUdf)
         if !spark.sessionState.functionRegistry
           .functionExists(FunctionIdentifier(name)))
      spark.udf.register(name, f)
}
