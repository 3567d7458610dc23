package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Importer.{ImportRequest, ImportResult}
import graft.functions.{GeoFunctions => G}

/**
 * Spec-parity suite: replays the reference's end-to-end golden specs
 * (reference: spec/import_spec.rb) against our engine — same fixtures,
 * same expected table names / row counts / column sets / geometry golden.
 */
class ImporterSpec extends AnyFunSuite with SparkTestBase {

  private def fx(name: String): String =
    java.nio.file.Paths.get(getClass.getResource(s"/fixtures/$name").toURI).toString

  private def imp(file: String, suggested: Option[String] = None,
      existing: Set[String] = Set.empty): ImportResult =
    Importer.importFile(spark, ImportRequest(
      importFromFile = Some(fx(file)), suggestedName = suggested,
      existingTables = existing))

  test("raises if no input given (import_spec.rb:7-11)") {
    val e = intercept[IllegalArgumentException] {
      Importer.importFile(spark, ImportRequest())
    }
    assert(e.getMessage == "import_from_file value can't be nil")
  }

  test("clubbing.csv: 1998 rows (import_spec.rb:129-136)") {
    val r = imp("clubbing.csv")
    assert(r.name == "clubbing")
    assert(r.rowsImported == 1998)
    assert(r.importType == ".csv")
    assert(r.df.columns.contains("direccion_completa")) // embedded space
  }

  test("ragged csv rows: short rows null-pad, long rows keep extras nowhere, none lost") {
    val f = java.nio.file.Files.createTempFile("graft_ragged_", ".csv")
    java.nio.file.Files.writeString(f, "name,qty,label\nalpha,2,x\nbeta,5\ngamma,7,y,EXTRA\n")
    val df = graft.sources.CsvImport.read(spark, f.toString, inferTypes = false)
    val rows = df.collect()
    // PERMISSIVE contract pinned: no row is silently dropped
    assert(rows.length == 3, rows.mkString("|"))
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(byName("beta").isNullAt(2), "short row must null-pad the missing column")
    assert(df.columns.length == 3, "extra cell must not widen the schema")
    assert(byName("gamma").getString(1) == "7")
  }

  test("suggested name + collision suffix (import_spec.rb:13-21,54-70)") {
    val r1 = imp("clubbing.csv", suggested = Some("prefered_name"))
    assert(r1.name == "prefered_name" && r1.rowsImported == 1998)
    val r2 = imp("clubbing.csv", suggested = Some("prefered_name"),
      existing = Set("prefered_name"))
    assert(r2.name == "prefered_name_1")
  }

  test("twitters.csv: sanitized columns (import_spec.rb:72-87)") {
    val r = imp("twitters.csv", suggested = Some("prefered_name"))
    assert(r.rowsImported == 7)
    val expected = Set("url", "login", "country", "followers_count")
    assert(expected.subsetOf(r.df.columns.toSet), r.df.columns.mkString(","))
  }

  test("reserved_columns.csv: _xmin escape (import_spec.rb:89-104, pending in reference)") {
    val r = imp("reserved_columns.csv", suggested = Some("prefered_name"))
    assert(r.rowsImported == 7)
    assert(r.df.columns.contains("_xmin"))
  }

  test("empty.csv raises and creates nothing (import_spec.rb:23-34)") {
    intercept[Importer.EmptyTableException] { imp("empty.csv") }
  }

  test("header-only inputs raise EmptyTableException and leave no extracted dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_header_only_")
    // georeferenceable columns: the geometry dataflow runs over zero rows
    val latlon = dir.resolve("points.csv")
    java.nio.file.Files.writeString(latlon, "name,latitude,longitude\n")
    intercept[Importer.EmptyTableException] {
      Importer.importFile(spark, ImportRequest(importFromFile = Some(latlon.toString)))
    }
    // the same payload inside an archive: the failed import removes its extract dir
    val zip = dir.resolve("points.zip")
    val zos = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(zip))
    try {
      zos.putNextEntry(new java.util.zip.ZipEntry("points.csv"))
      zos.write(java.nio.file.Files.readAllBytes(latlon)); zos.closeEntry()
    } finally zos.close()
    def extractDirs = Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .toSeq.flatten.filter(_.getName.startsWith("graft_unzip_")).map(_.getName).toSet
    val before = extractDirs
    intercept[Importer.EmptyTableException] {
      Importer.importFile(spark, ImportRequest(importFromFile = Some(zip.toString)))
    }
    assert(extractDirs == before)
    graft.sources.Archive.cleanup(dir.toFile)
  }

  /** Spark jobs started while `body` runs, counted by a listener. The
    * listener bus delivers events in order, so once a sentinel job run
    * afterwards has been seen, every job of `body` has been too. */
  private def sparkJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"import-jobs-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "import", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000
      while (!seen.contains(sentinel) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(seen.contains(sentinel), "listener bus did not deliver the sentinel job")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  // Job counts are deterministic, so they pin the import's fixed cost:
  // the geometry formats take one job (the count), GeoJSON adds its
  // reader's schema-inference job, CSV and XLSX add their inference jobs,
  // and only string `the_geom` pays the GeoJSON probe.
  test("importFile Spark jobs per payload format") {
    val want = Seq(
      "EjemploVizzuality.zip" -> 1, // shp
      "rmnp.kml" -> 1,
      "route2.gpx" -> 1,
      "simple.json" -> 2,
      "ngos.xlsx" -> 3,
      "clubbing.csv" -> 4,
      "CartoDB_csv_export.zip" -> 5) // csv with GeoJSON the_geom text
    imp("rmnp.kml") // warm the session before counting
    val got = want.map { case (f, _) => f -> sparkJobs(imp(f)) }
    assert(got == want)
  }

  test("importFile's row count reaches query execution listeners") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // the sentinel job orders this after the listener saw the import
      sparkJobs(imp("rmnp.kml"))
      val deadline = System.currentTimeMillis() + 60000
      while (!seen.contains("count") && System.currentTimeMillis() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(seen.contains("count"), seen.toArray.mkString(","))
  }

  test("pino.zip: payload-derived name (import_spec.rb:107-115)") {
    val r = imp("pino.zip")
    assert(r.name == "data")
    assert(r.rowsImported == 4)
    assert(r.importType == ".csv")
  }

  test("pino.zip with forced name (import_spec.rb:117-125)") {
    val r = imp("pino.zip", suggested = Some("table123"))
    assert(r.name == "table123" && r.rowsImported == 4)
  }

  test("Food Security Aid Map_projects.csv: 827 rows (import_spec.rb:138-146)") {
    val r = imp("Food Security Aid Map_projects.csv")
    assert(r.name == "food_security_aid_map_projects")
    assert(r.rowsImported == 827)
  }

  test("world_heritage_list.csv: 937 rows, georeferenced (import_spec.rb:147-155)") {
    val r = imp("world_heritage_list.csv")
    assert(r.name == "world_heritage_list")
    assert(r.rowsImported == 937)
    assert(r.df.columns.contains("the_geom")) // has latitude/longitude
  }

  test("estaciones2.csv: 30 rows (import_spec.rb:177-185)") {
    val r = imp("estaciones2.csv", suggested = Some("estaciones2"))
    assert(r.name == "estaciones2")
    assert(r.rowsImported == 30)
  }

  test("walmart_latlon.csv georeferences (import_spec.rb:375-385; SURVEY §7.2)") {
    val r = imp("walmart_latlon.csv")
    assert(r.name == "walmart_latlon")
    assert(r.importType == ".csv")
    assert(r.df.columns.contains("the_geom"))
    val georefd = r.df.filter(col("the_geom").isNotNull).count()
    assert(georefd > 3000, s"only $georefd georeferenced")
    // a sample point is lon/lat ordered
    val wkt = r.df.filter(col("the_geom").isNotNull)
      .select(G.st_astext(col("the_geom"))).head().getString(0)
    assert(wkt.startsWith("POINT("))
  }

  test("ngos.xlsx: 76 rows (import_spec.rb:189-196)") {
    val r = imp("ngos.xlsx")
    assert(r.name == "ngos")
    assert(r.rowsImported == 76)
    assert(r.importType == ".xlsx")
  }

  test("rmnp.kml / rmnp.zip / rmnp.kmz: 1 placemark (import_spec.rb:201-228)") {
    for (f <- Seq("rmnp.kml", "rmnp.zip", "rmnp.kmz")) {
      val r = imp(f)
      assert(r.name == "rmnp", s"$f -> ${r.name}")
      assert(r.rowsImported == 1, s"$f -> ${r.rowsImported}")
      assert(r.importType == ".kml", s"$f -> ${r.importType}")
    }
  }

  test("simple.json GeoJSON: 11 features (import_spec.rb:231-239)") {
    val r = imp("simple.json")
    assert(r.name == "simple")
    assert(r.rowsImported == 11)
    assert(r.importType == ".json")
    assert(r.df.filter(col("the_geom").isNotNull).count() == 11)
  }

  test("EjemploVizzuality.zip SHP: 11 rows + column set (import_spec.rb:242-260)") {
    val r = imp("EjemploVizzuality.zip", suggested = Some("vizzuality"))
    assert(r.name == "vizzuality")
    assert(r.rowsImported == 11)
    assert(r.importType == ".shp")
    val expected = Set("subclass", "x", "y", "length", "area", "angle", "name")
    assert(expected.subsetOf(r.df.columns.toSet), r.df.columns.mkString(","))
  }

  test("TM_WORLD_BORDERS_SIMPL-0.3.zip: 246 countries (import_spec.rb:261-269)") {
    val r = imp("TM_WORLD_BORDERS_SIMPL-0.3.zip")
    assert(r.name == "tm_world_borders_simpl_0_3")
    assert(r.rowsImported == 246)
    assert(r.importType == ".shp")
    // world borders are multipolygons in 4326
    val row = r.df.filter(col("the_geom").isNotNull)
      .select(G.geometry_type(col("the_geom")), G.st_srid(col("the_geom"))).head()
    assert(row.getString(0) == "MULTIPOLYGON")
    assert(row.getInt(1) == 4326)
  }

  test("110m-glaciated-areas.zip (import_spec.rb:316-322; fixture divergence)") {
    val r = imp("110m-glaciated-areas.zip")
    // reference golden is 312, but the snapshot's fixture physically holds
    // 11 shp records / 11 dbf rows (verified byte-level) — the golden
    // refers to an older fixture revision, like the .MISSING_LARGE_BLOBS
    // specs. Assert the real content.
    assert(r.rowsImported == 11)
    assert(r.importType == ".shp")
  }

  test("route2.gpx: track points (import_spec.rb:329-338)") {
    val r = imp("route2.gpx")
    assert(r.name == "route2")
    assert(r.importType == ".gpx")
    assert(r.rowsImported > 0)
    assert(Set("track_fid", "track_seg_id", "track_seg_point_id", "ele", "time", "the_geom")
      .subsetOf(r.df.columns.toSet))
    // F14: GPX datetimes stay strings
    assert(r.df.schema("time").dataType.typeName == "string")
  }

  test("CartoDB_csv_export.zip: 155 rows, geojson the_geom decoded (import_spec.rb:389-396)") {
    val r = imp("CartoDB_csv_export.zip", suggested = Some("cartodb_csv_export"))
    assert(r.name == "cartodb_csv_export")
    assert(r.rowsImported == 155)
    assert(r.importType == ".csv")
    assert(r.df.filter(col("the_geom").isNotNull).count() > 0)
  }

  test("CartoDB_csv_multipoly_export.zip: 601 rows + geometry golden (import_spec.rb:400-417)") {
    val r = imp("CartoDB_csv_multipoly_export.zip",
      suggested = Some("cartodb_csv_multipoly_export"))
    assert(r.name == "cartodb_csv_multipoly_export")
    assert(r.rowsImported == 601)
    // THE golden value check of the reference suite (import_spec.rb:416).
    // The reference asserts it on `LIMIT 1` — whose row is an artifact of
    // Postgres heap order after its per-row UPDATE loop. We assert the
    // golden VALUE is produced bit-for-bit by our decode→EWKB→GeoJSON
    // pipeline for the rows that carry that geometry.
    val golden =
      """{"type":"MultiPolygon","coordinates":[[[[2,39],[2,39],[2,39],[2,39],[2,39]]]]}"""
    val hits = r.df
      .select(G.st_asgeojson(col("the_geom"), 0).as("gj"))
      .filter(col("gj") === golden).count()
    assert(hits > 0, "golden multipolygon GeoJSON not reproduced")
  }

  test("CartoDB_shp_export.zip: 155 rows (import_spec.rb:420-430)") {
    val r = imp("CartoDB_shp_export.zip", suggested = Some("cartodb_shp_export"))
    assert(r.name == "cartodb_shp_export")
    assert(r.rowsImported == 155)
    assert(r.importType == ".shp")
  }

  test("simon-search-spain zip: SHP with reprojection (import_spec.rb:341-349)") {
    val r = imp("simon-search-spain-1297870422647.zip")
    assert(r.importType == ".shp")
    assert(r.rowsImported > 0)
    // after Q-reproject everything is 4326
    val srid = r.df.filter(col("the_geom").isNotNull)
      .select(G.st_srid(col("the_geom"))).head().getInt(0)
    assert(srid == 4326)
  }

  test("states.kml.zip: KML payload inside zip (import_spec.rb:352-360)") {
    val r = imp("states.kml.zip")
    assert(r.importType == ".kml")
    assert(r.rowsImported > 0)
  }

  // SURVEY §4 divergence pin: the import default infers types from a bounded
  // SAMPLE (the reference full-scans, importer.rb:518-550). A value past the
  // sample that defies the sampled verdict must land as NULL (try_cast
  // null-on-failure — the reference's own miscast semantics), NOT throw and
  // NOT demote the column. validateSample=true is the opt-out: it validates
  // the verdict against all rows and falls back to the exact full fold, so
  // no new nulls appear.
  test("sampled inference: late value defying the sample nulls out; validateSample recovers it") {
    val dir = java.nio.file.Files.createTempDirectory("late-defier")
    val f = dir.resolve("late.csv")
    val rows = (1 to 500).map { i =>
      val v = if (i == 400) "not_a_number" else i.toString
      s"$v,row_$i"
    }
    java.nio.file.Files.write(f, ("num,label\n" + rows.mkString("\n")).getBytes("UTF-8"))

    // sample (first 100 rows) sees only integers → column types as BIGINT;
    // row 400's defier becomes NULL on cast
    val sampled = graft.sources.CsvImport.read(spark, f.toString,
      inferSampleRows = Some(100L))
    assert(sampled.schema("num").dataType == org.apache.spark.sql.types.LongType)
    assert(sampled.filter(col("num").isNull).count() == 1L)
    assert(sampled.count() == 500L)

    // validated path: the try_cast validation scan catches the defier and
    // falls back to the full fold → varchar, zero new nulls
    val validated = graft.sources.CsvImport.read(spark, f.toString,
      inferSampleRows = Some(100L), validateSample = true)
    assert(validated.schema("num").dataType == org.apache.spark.sql.types.StringType)
    assert(validated.filter(col("num").isNull).count() === 0L)
  }
}
