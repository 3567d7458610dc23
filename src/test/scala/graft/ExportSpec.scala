package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, lit}
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

  private def tmp = suiteTempDir("graft_exp_spec_")

  test("import then export csv (export_spec.rb:8-22)") {
    val r = Exporter.exportCsv(imported.drop("the_geom"), "tm_world_borders", tmp)
    assert(r.name == "tm_world_borders")
    assert(r.importType == ".csv")
    assert(new java.io.File(r.path).length() > 0)
  }

  test("distributed csv export == driver-funnel export, byte-compatible archive") {
    import org.apache.spark.sql.functions.to_timestamp
    import graft.functions.GeoFunctions.st_asgeojson
    // the reference is the archive a driver funnel would write: header,
    // then one line per collected row in partition order, cells verbatim
    // cells a CSV writer with its own rendering would change: a padded
    // string (trimmed) and a timestamp (ISO-formatted)
    val df = imported.withColumn("padded", lit("  padded  "))
      .withColumn("ts", to_timestamp(lit("2020-01-02 03:04:05")))
    val r = Exporter.exportCsv(df, "borders", tmp)
    val text = new String(zipEntries(r.path)("borders.csv"), "UTF-8")
    def cell(v: Any): String = v match {
      case null => ""
      case s if s.toString.exists(",\"\n\r".contains(_)) =>
        "\"" + s.toString.replace("\"", "\"\"") + "\""
      case s => s.toString
    }
    val rendered = df.withColumn("the_geom", st_asgeojson(col("the_geom"))).collect()
    assert(rendered.length == 246)
    assert(text == (df.columns.map(cell).mkString(",") +: rendered.map(_.toSeq.map(cell).mkString(",")))
      .mkString("", "\n", "\n"))
    assert(text.split("\n").tail.forall(_.endsWith(",  padded  ,2020-01-02 03:04:05.0")))
    // and it re-imports cleanly through the CSV path
    val back = Importer.importFile(spark, Importer.ImportRequest(
      importFromFile = Some(r.path)))
    assert(back.rowsImported == 246)
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

  test("kml export: one Placemark per row; re-imports") {
    val r = Exporter.exportKml(imported, "borders", dir = tmp)
    val doc = new String(zipEntries(r.path)("doc.kml"), "UTF-8")
    assert(doc.split("<Placemark>").length == 247)
    assert(doc.endsWith("</Document></kml>\n"))
    val back = Importer.importFile(spark,
      Importer.ImportRequest(importFromFile = Some(r.path)))
    assert(back.rowsImported == 246)
  }

  /** The members `ShpWriter.write`/`DbfWriter.write` give for `df`'s
    * collected rows, the reference the SHP sink must equal. */
  private def shpReference(df: DataFrame, name: String): Map[String, Array[Byte]] = {
    val gi = df.columns.indexOf("the_geom")
    val attrs = df.columns.indices.filter(_ != gi)
    val rows = df.collect().toSeq
    val pair = graft.sinks.ShpWriter.write(rows.map(r =>
      Option(r.getAs[Array[Byte]](gi)).flatMap(graft.core.geo.Geometry.fromEwkb).map(_._1)))
    val dbf = graft.sinks.DbfWriter.write(
      Exporter.dbfSpecs(attrs.map(df.schema.fields(_))), rows.map(r => attrs.map(r.get)))
    Map(s"$name.shp" -> pair.shp, s"$name.shx" -> pair.shx, s"$name.dbf" -> dbf)
  }

  private def assertSameMembers(want: Map[String, Array[Byte]],
      got: Map[String, Array[Byte]], clue: String): Unit =
    want.foreach { case (member, bytes) =>
      assert(java.util.Arrays.equals(bytes, got(member)), s"$clue: $member differs")
    }

  test("shp export members equal ShpWriter/DbfWriter over the collected rows; reimports") {
    val r = Exporter.exportShp(imported, "borders", dir = tmp)
    val got = zipEntries(r.path)
    assert(got.keySet == Set("borders.shp", "borders.shx", "borders.dbf", "borders.prj"))
    assertSameMembers(shpReference(imported, "borders"), got, "borders")
    val back = Importer.importFile(spark,
      Importer.ImportRequest(importFromFile = Some(r.path)))
    assert(back.rowsImported == 246)
    assert(back.importType == ".shp")
  }

  /** Synthetic points over `parts` partitions, every 97th geometry null. */
  private def points(n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).select(col("id"),
      expr("CASE WHEN id % 97 = 0 THEN NULL ELSE " +
        "st_point(CAST(id % 360 AS DOUBLE) - 180.0, CAST(id % 180 AS DOUBLE) - 90.0) END").as("the_geom"))

  /** The three archive sinks, each exporting a frame as `pts` into a dir. */
  private val formats: Seq[(String, (DataFrame, String) => Exporter.ExportResult)] = Seq(
    "csv" -> ((df, d) => Exporter.exportCsv(df, "pts", d)),
    "kml" -> ((df, d) => Exporter.exportKml(df, "pts", dir = d)),
    "shp" -> ((df, d) => Exporter.exportShp(df, "pts", dir = d)))

  test("distributed shp export over a multi-partition frame (record numbering spans parts)") {
    val pts = points(2000, 8)
    val r = Exporter.exportShp(pts, "pts", dir = tmp)
    assertSameMembers(shpReference(pts, "pts"), zipEntries(r.path), "8 partitions")
    val back = Importer.importFile(spark,
      Importer.ImportRequest(importFromFile = Some(r.path)))
    assert(back.rowsImported == 2000)
  }

  test("an 8-partition frame with null geometries exports the same members as its coalesce(1)") {
    val pts = points(2000, 8)
    assert(pts.rdd.getNumPartitions == 8)
    for ((fmt, export) <- formats) {
      val a = zipEntries(export(pts, tmp).path)
      val b = zipEntries(export(pts.coalesce(1), tmp).path)
      assert(a.keySet == b.keySet, fmt)
      assertSameMembers(b, a, fmt)
    }
  }

  test("zero-row and zero-partition frames export archives with no records") {
    val zeroRows = points(0, 4)
    val zeroParts = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], zeroRows.schema)
    assert(zeroParts.rdd.getNumPartitions == 0)
    for ((df, clue) <- Seq(zeroRows -> "zero rows", zeroParts -> "zero partitions")) {
      val csv = zipEntries(Exporter.exportCsv(df, "pts", tmp).path)
      assert(new String(csv("pts.csv"), "UTF-8") == "id,the_geom\n", clue)
      val kml = zipEntries(Exporter.exportKml(df, "pts", dir = tmp).path)
      assert(new String(kml("doc.kml"), "UTF-8") ==
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<kml xmlns=\"http://www.opengis.net/kml/2.2\"><Document>\n" +
          "<name>pts</name>\n</Document></kml>\n", clue)
      assertSameMembers(shpReference(df, "pts"),
        zipEntries(Exporter.exportShp(df, "pts", dir = tmp).path), clue)
    }
  }

  test("kml and shp read attribute cells by position when a column name repeats") {
    val df = spark.range(0, 3, 1, 1).select(col("id"), lit("first").as("v"),
      lit("second").as("v"), expr("st_point(CAST(id AS DOUBLE), CAST(1 AS DOUBLE))").as("the_geom"))
    val doc = new String(zipEntries(Exporter.exportKml(df, "dup", dir = tmp).path)("doc.kml"), "UTF-8")
    assert(doc.split("""<Data name="v"><value>first</value></Data>""").length == 4, doc)
    assert(doc.split("""<Data name="v"><value>second</value></Data>""").length == 4, doc)
    val dbf = graft.sources.Shapefile.parseDbf(
      zipEntries(Exporter.exportShp(df, "dup", dir = tmp).path)("dup.dbf"),
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(dbf.records.map(_.drop(1)) == Seq.fill(3)(Seq("first", "second")))
  }

  test("each export leaves only its archive in dir; a sharded export only its shards and manifest") {
    val pts = points(300, 3)
    for ((fmt, export) <- formats) {
      val d = tmp
      val r = export(pts, d)
      assert(new java.io.File(d).list().toSeq == Seq(new java.io.File(r.path).getName), fmt)
    }
    val d = tmp
    val r = Exporter.exportCsvSharded(pts, "sh", shards = 2, d)
    val outDir = new java.io.File(r.manifestPath).getParentFile
    assert(new java.io.File(d).list().toSeq == Seq(outDir.getName))
    assert(outDir.list().toSeq.sorted ==
      Seq("sh-00000.zip", "sh-00001.zip", "sh.manifest.json"))
  }

  test("each archive export runs one Spark job, on 1 and on 8 partitions") {
    for (parts <- Seq(1, 8); (fmt, export) <- formats) {
      val pts = points(200, parts)
      assert(sparkJobs(export(pts, tmp)) == 1, s"$fmt on $parts partitions")
    }
  }

  test("raster import produces the tiled table shape (S10)") {
    val px = Array.fill[Byte](360 * 200)(7)
    val tif = graft.sources.GeoTiff.writeTiff(360, 200, px, epsg = 4326)
    val f = java.nio.file.Paths.get(tmp, "raster.tif")
    java.nio.file.Files.write(f, tif)
    val r = Importer.importFile(spark,
      Importer.ImportRequest(importFromFile = Some(f.toString)))
    assert(r.importType == ".tif")
    assert(r.rowsImported == 4) // 2×2 tiles of 180
    assert(r.df.columns.toSet ==
      Set("tile_x", "tile_y", "band", "width", "height", "srid", "values"))
  }
}
