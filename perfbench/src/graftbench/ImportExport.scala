package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Importer
import graft.Importer.{ImportRequest, ImportResult}
import graft.core.Identifier
import graft.functions.{GeoFunctions => G}
import graft.operators.{GeoPipeline, SchemaInference}
import graft.sinks.Exporter
import graft.sources._

/**
 * import_export: the paper's lifecycle. Each cycle imports every
 * ImporterSpec fixture and the seeded bulk CSV, and exports every result
 * that has a geometry column as CSV, KMZ and SHP, in a seed-shuffled
 * order. The main op is one fixture import.
 */
final class ImportExport(ctx: Ctx) extends Workload {
  private val expect = Json.read(new File(ctx.inputs, "expect.json"))
  /** Fixture name -> golden row count (None: the spec asserts only > 0). */
  private val fixtures: Seq[(String, Option[Long])] =
    expect.get("fixtures").fields().asScala.map { e =>
      e.getKey -> Option(e.getValue.get("rows")).filterNot(_.isNull).map(_.asLong)
    }.toSeq.sortBy(_._1)
  private def golden(name: String) = expect.get("fixtures").get(name)
  private val withGeom: Seq[String] =
    fixtures.map(_._1).filter(n => golden(n).get("geometry").asBoolean)
  /** The payload type the importer reports: csv, shp, kml, gpx, geojson or xlsx. */
  private def payload(name: String): String = golden(name).get("type").asText
  private val bulkRows = expect.get("bulk_rows").asLong
  private val bulkGeoref = expect.get("bulk_georef_rows").asLong
  private val fxDir = new File(ctx.inputs, "fixtures")
  private val bulk = new File(ctx.inputs, "bulk.csv")
  private val exportDir = new File(ctx.scratch, "exports")
  private val formats = Seq("csv", "kmz", "shp")
  /**
   * A known engine defect: 110m-glaciated-areas.zip imports as the table
   * `_110m_glaciated_areas`, its CSV export holds
   * `_110m_glaciated_areas.csv`, and the re-import reads nothing because
   * Spark skips files whose names start with `_`. The pair stays out of
   * the cycle's rotation and is probed once per run in `finish`.
   */
  private val UnderscoreCsv = ("110m-glaciated-areas.zip", "csv")
  private val WarmupExport = "EjemploVizzuality.zip"
  private val MultipolyGolden =
    """{"type":"MultiPolygon","coordinates":[[[[2,39],[2,39],[2,39],[2,39],[2,39]]]]}"""

  private var spark: SparkSession = _
  private val rng = new scala.util.Random(ctx.seed)
  /** The latest import of each source: row count and frame. */
  private val latest = mutable.Map.empty[String, ImportResult]
  private val exportChecked = mutable.Set.empty[(String, String)]
  private val exportBytesPerRow = mutable.ArrayBuffer.empty[Double]
  private var onceChecks = Set.empty[String]
  private var importCalls = 0L

  private sealed trait Step
  private final case class Imp(name: String, golden: Option[Long]) extends Step
  private case object Bulk extends Step
  private final case class Exp(name: String, fmt: String) extends Step

  def setup(s: SparkSession): Unit = { spark = s; exportDir.mkdirs() }

  private def importFile(path: File): ImportResult = {
    importCalls += 1
    Importer.importFile(spark, ImportRequest(importFromFile = Some(path.getPath)))
  }

  private def once(tag: String)(check: => Option[String]): Option[String] =
    if (onceChecks(tag)) None else { onceChecks += tag; check }

  private def run(step: Step, record: Boolean): Unit = step match {
    case Imp(name, golden) =>
      val t = payload(name)
      ctx.op(s"importer:$t", record = record, what = name)(importFile(new File(fxDir, name))) { r =>
        latest(name) = r
        if (golden.exists(_ != r.rowsImported) || r.rowsImported <= 0)
          Some(s"$name imported ${r.rowsImported} rows, golden $golden")
        else if (r.importType != (if (t == "geojson") ".json" else s".$t"))
          Some(s"$name imported as ${r.importType}, not $t")
        else if (r.df.columns.contains("the_geom") != withGeom.contains(name))
          Some(s"$name: geometry column present is ${r.df.columns.contains("the_geom")}")
        else if (name == "CartoDB_csv_multipoly_export.zip") once("multipoly") {
          val hits = r.df.select(G.st_asgeojson(col("the_geom"), 0).as("gj"))
            .filter(col("gj") === MultipolyGolden).count()
          if (hits > 0) None else Some("multipolygon geometry golden not reproduced")
        }
        else None
      }
    case Bulk =>
      ctx.op("importer.bulk", main = false, record = record)(importFile(bulk)) { r =>
        if (r.rowsImported != bulkRows) Some(s"bulk rows ${r.rowsImported} != $bulkRows")
        else once("georef") {
          val g = r.df.filter(col("the_geom").isNotNull).count()
          if (g == bulkGeoref) None else Some(s"bulk georef rows $g != $bulkGeoref")
        }
      }
    case Exp(name, fmt) =>
      val src = latest(name)
      ctx.op(s"sinks.export:$fmt", main = false, record = record, what = name)(
        export(src.df, src.name, fmt)) { res =>
        val f = new File(res.path)
        try {
          exportBytesPerRow += f.length.toDouble / src.rowsImported
          if (!exportChecked.add((name, fmt))) None
          else {
            val back = importFile(f).rowsImported
            if (back == src.rowsImported) None
            else Some(s"$name exported as $fmt re-imports $back rows, not ${src.rowsImported}")
          }
        } finally f.delete()
      }
  }

  private def export(df: DataFrame, name: String, fmt: String): Exporter.ExportResult =
    fmt match {
      case "csv" => Exporter.exportCsv(df, name, exportDir.getPath)
      case "kmz" => Exporter.exportKml(df, name, dir = exportDir.getPath)
      case "shp" => Exporter.exportShp(df, name, dir = exportDir.getPath)
    }

  /**
   * One cycle: every fixture imported once, the bulk CSV four times, and
   * every result with a geometry column exported once. Each fixture's
   * export format is fixed for the run and rotates with the seed, so runs
   * of different seeds cover every (fixture, format) pair but the known
   * defect's.
   */
  private def steps(): Seq[Step] = {
    val order = mutable.ArrayBuffer.from[Step](
      rng.shuffle(fixtures.map { case (n, g) => Imp(n, g) } ++ Seq.fill(4)(Bulk)))
    // each export lands at a random place after the import whose result it writes
    withGeom.zipWithIndex.foreach { case (n, i) =>
      val imp = order.indexWhere { case Imp(m, _) => m == n; case _ => false }
      val fmts = formats.filterNot(f => (n, f) == UnderscoreCsv)
      order.insert(imp + 1 + rng.nextInt(order.size - imp),
        Exp(n, fmts(Math.floorMod(i + ctx.seed, fmts.size.toLong).toInt)))
    }
    order.toSeq
  }

  /** Imports every fixture once and the bulk CSV twice, and exports one
    * geometry fixture in every format and re-imports it, so JIT and
    * codegen are warm for every import and export path before the timed
    * cycle. */
  def warmup(): Unit = {
    fixtures.foreach { case (n, g) => run(Imp(n, g), record = false) }
    (1 to 2).foreach(_ => run(Bulk, record = false))
    formats.foreach(f => run(Exp(WarmupExport, f), record = false))
  }

  def cycle(): Unit = steps().foreach(run(_, record = true))

  override def finish(tr: Tracer): Unit = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val left = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_")).map(Dirs.du).sum
    ctx.named("importer.scratch_bytes_left") = left.toDouble / math.max(1L, importCalls)
    ctx.named("sinks.export_bytes_per_row") = Stats.median(exportBytesPerRow.toSeq)
    val ops = ctx.ops
    def ms(k: String => Boolean) = ops.filter(o => k(o.kind)).map(_.ms)
    ctx.named("import_ms_p50") = Stats.median(ms(_.startsWith("importer:")))
    ctx.named("export_ms_p50") = Stats.median(ms(_.startsWith("sinks.export")))
    ctx.named("bulk_import_rows_per_s") = workPerS
    ctx.knownDefect("csv_export_of_underscore_table_does_not_reimport") {
      val src = latest(UnderscoreCsv._1)
      val f = new File(export(src.df, src.name, "csv").path)
      try {
        val back = importFile(f).rowsImported
        if (back == src.rowsImported) None
        else Some(s"${src.name} re-imports $back rows, not ${src.rowsImported}")
      } finally f.delete()
    }
    if (tr.enabled) {
      // The stage breakdown: the same public calls Importer.importFile
      // makes, in the same order, each under its own span.
      fixtures.foreach { case (n, g) =>
        ctx.op("replay.importer", main = false, record = false)(
          replay(tr, new File(fxDir, n))) { rows =>
          if (g.forall(_ == rows)) None else Some(s"replay of $n gave $rows rows")
        }
      }
      ctx.op("replay.importer", main = false, record = false)(replay(tr, bulk)) { rows =>
        if (rows == bulkRows) None else Some(s"replay of bulk gave $rows rows")
      }
    }
  }

  def workPerS: Double = {
    val b = ctx.ops.filter(_.kind == "importer.bulk").map(_.ms)
    if (b.isEmpty) 0.0 else bulkRows * b.size / (b.sum / 1000)
  }

  private def extOf(path: String): String = {
    val n = new File(path).getName.toLowerCase
    val i = n.lastIndexOf('.')
    if (i >= 0) n.substring(i) else ""
  }

  /** Importer.importFile's pipeline, stage by stage, under spans. */
  private def replay(tr: Tracer, file: File): Long = {
    var path = file.getPath
    var ext = extOf(path)
    var tempDir: Option[File] = None
    try {
      if (ext == ".zip" || ext == ".kmz") {
        val x = tr.span("sources.archive.extract")(Archive.extract(path))
        path = x.payload.getPath; ext = extOf(path); tempDir = Some(x.dir)
      }
      Identifier.resolveCollision(Identifier.suggestTableName(path), Set.empty)
      val fmt = ext match {
        case ".json" | ".js" | ".geojson" => "geojson"
        case e => e.stripPrefix(".")
      }
      def read(df: => DataFrame) = tr.span(s"sources.read:$fmt")(df)
      val loaded = ext match {
        case ".csv" =>
          // CsvImport.read sniffs the dialect itself, so read_ms.csv includes the sniff
          val raw = read(CsvImport.read(spark, path, inferTypes = false))
          tr.span("operators.schema.infer")(SchemaInference.applyInferredTypes(raw,
            SchemaInference.inferTypesSampled(raw, SchemaInference.DefaultImportSampleRows)))
        case ".xlsx" =>
          val raw = read(XlsxImport.read(spark, path, inferTypes = false))
          tr.span("operators.schema.infer")(
            SchemaInference.applyInferredTypes(raw, SchemaInference.inferTypes(raw)))
        case ".shp" => read(Shapefile.read(spark, path))
        case ".kml" => read(KmlImport.read(spark, path))
        case ".gpx" => read(GpxImport.read(spark, path))
        case _ => read(GeoJsonImport.read(spark, path))
      }
      if (tr.span("importer.empty_guard")(loaded.isEmpty))
        throw new IllegalStateException(s"$path is empty")
      val named = tr.span("operators.geo.sanitize")(GeoPipeline.sanitizeColumns(loaded))
      val g0 = tr.span("operators.geo.geojson")(
        if (GeoPipeline.theGeomLooksLikeGeoJson(named)) GeoPipeline.decodeGeoJson(named)
        else named)
      val g1 = tr.span("operators.geo.georef")(GeoPipeline.georeference(g0))
      val geo = tr.span("operators.geo.reproject")(GeoPipeline.reprojectTo4326(g1))
      val rows = tr.span("importer.count")(geo.count())
      // the sniff alone, after the pipeline: Importer.importFile makes no such call
      if (ext == ".csv") tr.span("sources.csv.sniff")(CsvImport.sniff(path))
      rows
    } finally tempDir.foreach(Archive.cleanup)
  }
}

object Dirs {
  /** Bytes under `f`, recursively. */
  def du(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten.map(du).sum
}
