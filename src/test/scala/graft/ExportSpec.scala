package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.Exporter

/**
 * Export parity suite: replays the reference's import-then-export round
 * trips (reference: spec/export_spec.rb:8-59 — asserts name + type per
 * format; we additionally re-import our own exports, which the reference
 * could not do without a second database).
 */
class ExportSpec extends AnyFunSuite with SparkTestBase {

  private def fx(name: String): String =
    java.nio.file.Paths.get(getClass.getResource(s"/fixtures/$name").toURI).toString

  private lazy val imported = Importer.importFile(spark, Importer.ImportRequest(
    importFromFile = Some(fx("TM_WORLD_BORDERS_SIMPL-0.3.zip")))).df.cache()

  private def tmp = java.nio.file.Files.createTempDirectory("graft_exp_spec_").toString

  test("import then export csv (export_spec.rb:8-22)") {
    val r = Exporter.exportCsv(imported.drop("the_geom"), "tm_world_borders", tmp)
    assert(r.name == "tm_world_borders")
    assert(r.importType == ".csv")
    assert(new java.io.File(r.path).length() > 0)
  }

  test("distributed csv export == driver-funnel export, byte-compatible archive") {
    val df = imported
    val d1 = tmp
    val funnel = Exporter.exportCsv(df, "borders", d1)
    val dist = Exporter.exportCsvDistributed(df, "borders", d1)
    def rowsOf(zipPath: String): Seq[String] = {
      val zf = new java.util.zip.ZipFile(zipPath)
      try {
        val e = zf.entries().nextElement()
        assert(e.getName == "borders.csv")
        scala.io.Source.fromInputStream(zf.getInputStream(e), "UTF-8")
          .getLines().toList
      } finally zf.close()
    }
    val a = rowsOf(funnel.path)
    val b = rowsOf(dist.path)
    assert(a.head == b.head) // identical header
    // same row multiset (partition order may differ from iterator order)
    assert(a.tail.sorted == b.tail.sorted)
    assert(a.length.toLong - 1 == df.count())
    // and it re-imports cleanly through the CSV path
    val back = Importer.importFile(spark, Importer.ImportRequest(
      importFromFile = Some(dist.path)))
    assert(back.rowsImported == df.count())
  }

  test("csv export writes geometry as GeoJSON text; re-import gives the same geometry") {
    import org.apache.spark.sql.functions.col
    import graft.functions.GeoFunctions.st_asgeojson
    def geojson(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(st_asgeojson(col("the_geom"))).collect().map(_.getString(0)).toSeq.sorted
    // rmnp.kml's table repeats the column name `name`
    for (f <- Seq("EjemploVizzuality.zip", "rmnp.kml")) {
      val src = Importer.importFile(spark, Importer.ImportRequest(
        importFromFile = Some(fx(f))))
      val r = Exporter.exportCsv(src.df, src.name, tmp)
      val back = Importer.importFile(spark, Importer.ImportRequest(
        importFromFile = Some(r.path)))
      assert(back.rowsImported == src.rowsImported, f)
      val want = geojson(src.df)
      assert(want.forall(_ != null), f)
      assert(geojson(back.df) == want, f)
    }
  }

  test("csv export of a table named with a leading underscore re-imports") {
    val src = Importer.importFile(spark, Importer.ImportRequest(
      importFromFile = Some(fx("110m-glaciated-areas.zip"))))
    assert(src.name == "_110m_glaciated_areas")
    val r = Exporter.exportCsv(src.df, src.name, tmp)
    // the archive as exported, and its payload passed directly
    val csv = java.nio.file.Paths.get(tmp, s"${src.name}.csv")
    java.nio.file.Files.write(csv, zipEntries(r.path)(s"${src.name}.csv"))
    for (p <- Seq(r.path, csv.toString)) {
      val back = Importer.importFile(spark, Importer.ImportRequest(
        importFromFile = Some(p)))
      assert(back.rowsImported == src.rowsImported, p)
      assert(back.name == src.name, p)
      assert(back.importType == ".csv", p)
    }
    assert(java.nio.file.Files.exists(csv), "the caller's file is left in place")
  }

  test("import then export kml (export_spec.rb:24-40)") {
    val r = Exporter.exportKml(imported, "tm_world_borders", dir = tmp)
    assert(r.name == "tm_world_borders")
    assert(r.importType == ".kml")
    assert(r.path.endsWith(".kmz"))
  }

  test("import then export shp, then reimport (export_spec.rb:42-58)") {
    val r = Exporter.exportShp(imported, "tm_world_borders", dir = tmp)
    assert(r.name == "tm_world_borders")
    assert(r.importType == ".shp")
    // full cycle: our zip of .shp/.shx/.dbf/.prj imports like any other
    val back = Importer.importFile(spark,
      Importer.ImportRequest(importFromFile = Some(r.path)))
    assert(back.rowsImported == 246)
    assert(back.importType == ".shp")
  }

  private def zipEntries(zipPath: String): Map[String, Array[Byte]] = {
    val zf = new java.util.zip.ZipFile(zipPath)
    try {
      val it = zf.entries()
      var m = Map.empty[String, Array[Byte]]
      while (it.hasMoreElements) {
        val e = it.nextElement()
        m += e.getName -> zf.getInputStream(e).readAllBytes()
      }
      m
    } finally zf.close()
  }

  test("distributed kml export == driver-funnel export, byte-identical doc.kml") {
    val d = tmp
    val funnel = Exporter.exportKml(imported, "borders", dir = d)
    val dist = Exporter.exportKmlDistributed(imported, "borders", dir = d)
    val a = zipEntries(funnel.path)("doc.kml")
    val b = zipEntries(dist.path)("doc.kml")
    assert(a.length == b.length)
    assert(java.util.Arrays.equals(a, b))
    assert(dist.importType == ".kml" && dist.path.endsWith(".kmz"))
  }

  test("distributed shp export == driver-funnel export, byte-identical members; reimports") {
    val d = tmp
    val funnel = Exporter.exportShp(imported, "borders", dir = d)
    val dist = Exporter.exportShpDistributed(imported, "borders", dir = d)
    val a = zipEntries(funnel.path)
    val b = zipEntries(dist.path)
    assert(a.keySet == b.keySet)
    Seq(".shp", ".shx", ".dbf", ".prj").foreach { ext =>
      assert(java.util.Arrays.equals(a(s"borders$ext"), b(s"borders$ext")),
        s"borders$ext differs between funnel and distributed export")
    }
    val back = Importer.importFile(spark,
      Importer.ImportRequest(importFromFile = Some(dist.path)))
    assert(back.rowsImported == 246)
    assert(back.importType == ".shp")
  }

  test("distributed shp export over a multi-partition frame (record numbering spans parts)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // synthetic points across 8 partitions, incl. null geometries
    val pts = spark.range(2000).repartition(8)
      .select(col("id"),
        expr("CASE WHEN id % 97 = 0 THEN NULL ELSE " +
          "st_point(CAST(id % 360 AS DOUBLE) - 180.0, CAST(id % 180 AS DOUBLE) - 90.0) END").as("the_geom"))
    val d = tmp
    val r = Exporter.exportShpDistributed(pts, "pts", dir = d)
    val back = Importer.importFile(spark,
      Importer.ImportRequest(importFromFile = Some(r.path)))
    assert(back.rowsImported == 2000)
    // same bytes as the funnel on the identical frame
    val funnel = Exporter.exportShp(pts, "pts", dir = d)
    val a = zipEntries(funnel.path); val b = zipEntries(r.path)
    Seq(".shp", ".shx", ".dbf").foreach { ext =>
      assert(java.util.Arrays.equals(a(s"pts$ext"), b(s"pts$ext")), s"pts$ext differs")
    }
  }

  test("raster import produces the tiled table shape (S10)") {
    val px = Array.fill[Byte](360 * 200)(7)
    val tif = graft.sources.GeoTiff.writeTiff(360, 200, px, epsg = 4326)
    val f = java.nio.file.Files.createTempFile("graft_raster_", ".tif")
    java.nio.file.Files.write(f, tif)
    val r = Importer.importFile(spark,
      Importer.ImportRequest(importFromFile = Some(f.toString)))
    assert(r.importType == ".tif")
    assert(r.rowsImported == 4) // 2×2 tiles of 180
    assert(r.df.columns.toSet ==
      Set("tile_x", "tile_y", "band", "width", "height", "srid", "values"))
  }
}
