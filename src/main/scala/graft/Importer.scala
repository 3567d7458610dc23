package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.core.Identifier
import graft.operators.GeoPipeline
import graft.sources.{Archive, CsvImport, GeoJsonImport, GeoTiff, GpxImport, KmlImport, OdsImport, Shapefile, XlsImport, XlsxImport}

/**
 * The import pipeline (SURVEY.md §3): Acquire (URL/file/zip) → Normalize
 * (per-format reader) → geometry dataflows (Q-geojson → Q-georef →
 * Q-reproject) → result record. Mirrors the reference's lifecycle
 * (importer.rb:87-476) with every external process (wget/ogr2ogr/
 * shp2pgsql/psql) replaced by in-JVM Spark operators.
 */
object Importer {

  final case class ImportRequest(
      importFromFile: Option[String] = None,
      importFromUrl: Option[String] = None,
      suggestedName: Option[String] = None,
      existingTables: Set[String] = Set.empty,
      inferTypes: Boolean = true)

  /** Result record (importer.rb:341-346). */
  final case class ImportResult(
      name: String, rowsImported: Long, importType: String,
      df: DataFrame, log: Seq[String])

  final class EmptyTableException(msg: String) extends RuntimeException(msg)

  def importFile(spark: SparkSession, req: ImportRequest): ImportResult = {
    val log = Seq.newBuilder[String]
    graft.functions.GraftFunctions.registerAll(spark)

    // ----- Acquire (S1/S2): URL download or local path
    val path0 = req.importFromFile.orElse(req.importFromUrl.map(download))
      .getOrElse(throw new IllegalArgumentException(
        "import_from_file value can't be nil")) // importer.rb:40
    var path = path0
    var ext = extOf(path)
    var tempDir: Option[File] = None

    try {
      // ----- Archive unpack (S3)
      if (ext == ".zip" || ext == ".kmz") {
        val x = Archive.extract(path)
        log += s"unpacked ${new File(path).getName} -> ${x.payload.getName}"
        path = x.payload.getPath
        ext = extOf(path)
        tempDir = Some(x.dir)
      }

      // ----- Name resolution (D1): forced name or from filename
      val baseName = req.suggestedName
        .map(n => Option(Identifier.sanitize(n.toLowerCase)).getOrElse(n.toLowerCase))
        .getOrElse(Identifier.suggestTableName(path))
      val name = Identifier.resolveCollision(baseName, req.existingTables)

      // ----- Spark-visible payload: Spark's file listing skips names
      //       starting `_` or `.`, so a payload its file sources read is
      //       read under a visible name inside the import's temp dir
      val src = new File(path)
      val hidden = src.getName.startsWith("_") || src.getName.startsWith(".")
      val readPath =
        if (!(hidden && SparkListed(ext))) path
        else {
          // an extracted payload is the import's own copy; a caller's file is not
          val own = tempDir.isDefined
          val dir = tempDir.getOrElse(Files.createTempDirectory("graft_import_").toFile)
          tempDir = Some(dir)
          val visible = Files.createTempFile(dir.toPath, "payload_", ext)
          if (own) Files.move(src.toPath, visible, StandardCopyOption.REPLACE_EXISTING)
          else Files.copy(src.toPath, visible, StandardCopyOption.REPLACE_EXISTING)
          visible.toString
        }

      // ----- Normalize + load, one branch per format (stage 3)
      val loaded: DataFrame = ext match {
        case ".csv" => CsvImport.read(spark, readPath, req.inferTypes)
        case ".xlsx" => XlsxImport.read(spark, readPath, req.inferTypes)
        case ".ods" => OdsImport.read(spark, readPath, req.inferTypes)
        case ".xls" => XlsImport.read(spark, readPath, req.inferTypes)
        case ".shp" => Shapefile.read(spark, readPath)
        case ".kml" => KmlImport.read(spark, readPath)
        case ".json" | ".js" | ".geojson" => GeoJsonImport.read(spark, readPath)
        case ".gpx" => GpxImport.read(spark, readPath)
        case ".tif" | ".tiff" => GeoTiff.read(spark, readPath) // S10: tiled raster
        case other =>
          throw new UnsupportedOperationException(s"unsupported format $other")
      }

      // ----- Column sanitization (P1) — readers emit raw source names
      val named = GeoPipeline.sanitizeColumns(loaded)

      // ----- Geometry dataflows (§2.11): geojson decode, then georef,
      //       then reprojection of any foreign-SRID geometry
      val withGeom0 =
        if (GeoPipeline.theGeomLooksLikeGeoJson(named))
          GeoPipeline.decodeGeoJson(named)
        else named
      val withGeom1 = GeoPipeline.georeference(withGeom0)
      val geo = GeoPipeline.reprojectTo4326(withGeom1)

      // ----- Empty guard (P5, importer.rb:203-206) from the final count:
      //       every step since the load preserves rows
      val rows = countRows(geo)
      if (rows == 0) throw new EmptyTableException(s"The file $path is empty")
      log += s"imported $rows rows into $name"
      // D7 divergence: the reference deletes temp files eagerly because the
      // data now lives in Postgres; our result DataFrame may still scan the
      // extracted payload lazily, so extracted dirs are cleaned at JVM exit.
      tempDir.foreach { d =>
        d.deleteOnExit(); Option(d.listFiles()).foreach(_.foreach(_.deleteOnExit()))
      }
      ImportResult(name, rows, ext, geo, log.result())
    } catch { case e: Throwable =>
      tempDir.foreach(Archive.cleanup) // failed import: clean eagerly (D6/D7)
      throw e
    }
  }

  /** Payload extensions whose readers list files through Spark's file sources. */
  private val SparkListed = Set(".csv", ".json", ".js", ".geojson")

  /** Row count in one Spark job. `Dataset.count()` plans partial
    * aggregate → exchange → final aggregate, which adaptive execution
    * runs as two jobs; the rows of an empty projection are counted with
    * no exchange. Column pruning drops every derived column from it, as
    * it does for `count()`. A tracked SQL execution, so query listeners
    * and observations see the action. */
  private def countRows(df: DataFrame): Long = {
    val qe = df.select().queryExecution
    SQLExecution.withNewExecutionId(qe, Some("count"))(qe.toRdd.count())
  }

  private def extOf(path: String): String = {
    val n = new File(path).getName.toLowerCase
    val i = n.lastIndexOf('.')
    if (i >= 0) n.substring(i) else ""
  }

  /** URL acquire (S1): reference shells to wget (importer.rb:29-38);
    * in-JVM java.net.http equivalent. Zero-egress environments will
    * simply fail here, matching the skipped network spec. */
  private def download(url: String): String = {
    val name = new File(new java.net.URI(url).getPath).getName
    val target = java.nio.file.Files.createTempDirectory("graft_dl_")
      .resolve(if (name.isEmpty) "download" else name)
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).build()
    client.send(req, java.net.http.HttpResponse.BodyHandlers.ofFile(target))
    target.toString
  }
}
