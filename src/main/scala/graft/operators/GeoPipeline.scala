package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.core.{Coordinates, Identifier}
import graft.functions.GeoFunctions._

/**
 * The reference's signature derived-column dataflows (SURVEY.md §2.11) as
 * `DataFrame => DataFrame` transforms. Each collapses a driver-side SQL
 * loop in the reference into one distributed projection — no shuffle, fully
 * whole-stage pipelined with the scan.
 */
object GeoPipeline {

  /** P1: rename every column through the sanitization kernel
    * (importer.rb:244-250) — pure metadata op, zero data movement. */
  def sanitizeColumns(df: DataFrame): DataFrame =
    df.toDF(Identifier.sanitizeHeader(df.columns.toIndexedSeq): _*)

  /**
   * Q-georef (importer.rb:297-334): if there is no `the_geom` column and a
   * latitude/longitude synonym pair exists, add `the_geom` as a 4326 POINT
   * for rows passing the validity regexes (P3); other rows get null.
   */
  def georeference(df: DataFrame): DataFrame = {
    if (df.columns.contains("the_geom")) return df
    (Coordinates.findLatitude(df.columns.toIndexedSeq),
      Coordinates.findLongitude(df.columns.toIndexedSeq)) match {
      case (Some(latC), Some(lonC)) =>
        val lonS = col(lonC).cast(StringType)
        val latS = col(latC).cast(StringType)
        df.withColumn("the_geom",
          when(lonS.rlike(Coordinates.LonRegex) && latS.rlike(Coordinates.LatRegex),
            st_point(col(lonC).cast("double"), col(latC).cast("double"))))
      case _ => df
    }
  }

  /**
   * Q-geojson (importer.rb:262-294): when `the_geom` holds GeoJSON text,
   * rename it `the_geom_orig` and decode into a typed `the_geom`; rows that
   * fail to parse get null (silent skip, importer.rb:282-284). The
   * reference's N+1 per-row UPDATE loop is one distributed expression here.
   * `dropOriginal` mirrors the final `DROP COLUMN the_geom_orig`
   * (importer.rb:288).
   */
  def decodeGeoJson(df: DataFrame, dropOriginal: Boolean = true): DataFrame = {
    if (!df.columns.contains("the_geom")) return df
    val renamed = df.withColumnRenamed("the_geom", "the_geom_orig")
    val decoded = renamed.withColumn("the_geom",
      st_geomfromgeojson(col("the_geom_orig").cast(StringType)))
    if (dropOriginal) decoded.drop("the_geom_orig") else decoded
  }

  /** First-row GeoJSON sniff used to decide whether to run decodeGeoJson
    * (importer.rb:262-268 — a LIMIT 1 probe). Only text can hold GeoJSON,
    * so a `the_geom` of any other type (the EWKB binary the geometry
    * readers emit) is decided from the schema, without the probe. */
  def theGeomLooksLikeGeoJson(df: DataFrame): Boolean =
    df.schema.exists(f => f.name == "the_geom" && f.dataType.isInstanceOf[StringType]) && {
      df.select(col("the_geom")).limit(1).collect()
        .headOption.flatMap(r => Option(r.getString(0)))
        .exists(s => graft.core.geo.Geometry.fromGeoJson(s).isDefined)
    }

  /**
   * Q-reproject (importer.rb:375-386): geometry in a foreign SRID →
   * `ST_Force_2D(ST_Transform(geom, 4326))`. The srid rides inside the
   * EWKB bytes; unsupported SRIDs pass through (errors swallowed into the
   * runlog in the reference).
   */
  def reprojectTo4326(df: DataFrame, geomCol: String = "the_geom"): DataFrame =
    if (!df.columns.contains(geomCol)) df
    else df.withColumn(geomCol, st_force2d(st_transform(col(geomCol), 4326)))
}
