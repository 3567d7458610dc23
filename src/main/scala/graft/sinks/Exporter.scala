package graft.sinks

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.geo.{Geometry, LineString, MultiLineString, MultiPoint, MultiPolygon, Point => GPoint, Polygon => GPolygon, GeometryCollection}
import graft.functions.GeoFunctions.st_asgeojson

/**
 * Export sinks (SURVEY.md §2.1 S11-S13, reference exporter.rb:43-161):
 * table → zipped CSV, `.kmz` (doc.kml), or zipped shapefile set. Result
 * record mirrors the reference's {name, import_type, path}
 * (exporter.rb:67-71,88-92,155-159).
 *
 * Scale note: the reference's export contract is "one archive file", so
 * the row stream is funneled through the driver (toLocalIterator — bounded
 * memory, not collect). Multi-file distributed export is just
 * `df.write.csv(dir)`; these sinks exist for reference parity.
 */
object Exporter {

  final case class ExportResult(name: String, importType: String, path: String)

  /** Hadoop Configuration that survives the task-closure serializer —
    * the distributed sinks ship it to executors so part files land on the
    * CLUSTER filesystem (HDFS/S3/local-under-local[*]), not each
    * executor's private disk. Same writeObject/readFields shape Spark
    * uses internally. */
  private final class SerializableHadoopConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  private def hadoopConf(df: DataFrame): Configuration =
    df.sparkSession.sessionState.newHadoopConf()

  /** Archive stream with deflate at BEST_SPEED: the zip is inherently a
    * single-stream artifact, so its deflate runs on ONE driver core no
    * matter how distributed the row rendering is — at default level the
    * compressor, not the copy, dominates the funnel stage. Level 1 keeps
    * the archive a standard zip (entry bytes identical after inflate, so
    * the funnel/distributed byte-identity contract is untouched) at a
    * fraction of the CPU. */
  private def archiveStream(out: java.io.OutputStream): ZipOutputStream = {
    val zos = new ZipOutputStream(out)
    zos.setLevel(java.util.zip.Deflater.BEST_SPEED)
    zos
  }

  private def outPath(dir: String, name: String): String = {
    new File(dir).mkdirs()
    s"$dir/exporting_${java.util.UUID.randomUUID().toString.take(8)}_$name"
  }

  /** Hadoop-FS twin of `outPath` for the distributed sinks: `dir` may be
    * any scheme the cluster mounts (hdfs://, s3a://, plain local path). */
  private def outPathFs(conf: Configuration, dir: String, name: String): (FileSystem, Path) = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    fs.mkdirs(d)
    (fs, new Path(d,
      s"exporting_${java.util.UUID.randomUUID().toString.take(8)}_$name"))
  }

  /** Sorted part files under `partsDir` with the given suffix — the global
    * record order of every distributed sink (partition id == name order). */
  private def partFiles(fs: FileSystem, partsDir: Path, suffix: String): Seq[Path] =
    fs.listStatus(partsDir).iterator
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-")
        && s.getPath.getName.endsWith(suffix))
      .map(_.getPath).toSeq.sortBy(_.getName)

  private def streamFileInto(zos: ZipOutputStream, fs: FileSystem, p: Path,
      buf: Array[Byte]): Unit = {
    val in = fs.open(p)
    try {
      var n = in.read(buf)
      while (n > 0) { zos.write(buf, 0, n); n = in.read(buf) }
    } finally in.close()
  }

  private def streamFilesInto(zos: ZipOutputStream, fs: FileSystem,
      partsDir: Path, suffix: String): Unit = {
    val buf = new Array[Byte](1 << 16)
    partFiles(fs, partsDir, suffix).foreach(p => streamFileInto(zos, fs, p, buf))
  }

  /** Attempt-unique temp name for a part file. Deterministic part names
    * alone are NOT safe: with speculative execution (or a zombie attempt
    * racing a retry) two attempts can hold open streams on the same
    * destination concurrently and interleave/truncate bytes. Each attempt
    * writes its own dot-prefixed temp (invisible to `partFiles`), then
    * `publishPart` renames it over the final name — the published part is
    * always ONE attempt's complete bytes, whichever attempt wins. */
  private def attemptTmp(finalPath: Path): Path = {
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(0L)
    new Path(finalPath.getParent, s".${finalPath.getName}.attempt-$attempt.tmp")
  }

  private def publishPart(fs: FileSystem, tmp: Path, finalPath: Path): Unit = {
    if (fs.exists(finalPath)) fs.delete(finalPath, false)
    if (!fs.rename(tmp, finalPath))
      throw new java.io.IOException(s"publish $tmp -> $finalPath failed")
  }

  /** Renders every partition of `rows` on the executors into
    * `partsDir/part-NNNNN<suffix>`, one `render(row)` after another.
    * Nothing comes back to the driver; the bytes go to the cluster FS
    * through an attempt-unique temp + rename ([[attemptTmp]]), so racing
    * attempts publish whole files, never interleaved bytes. */
  private def writeParts(rows: org.apache.spark.rdd.RDD[Row],
      conf: Configuration, fs: FileSystem, partsDir: Path, suffix: String)
      (render: Row => String): Unit = {
    fs.mkdirs(partsDir)
    val partsPath = partsDir.toString
    val confSer = new SerializableHadoopConf(conf)
    rows.mapPartitionsWithIndex { (pid, it) =>
      val p = new Path(partsPath, f"part-$pid%05d$suffix")
      val pfs = p.getFileSystem(confSer.value)
      val tmp = attemptTmp(p)
      val w = new java.io.OutputStreamWriter(
        new java.io.BufferedOutputStream(pfs.create(tmp, true)), StandardCharsets.UTF_8)
      try it.foreach(row => w.write(render(row))) finally w.close()
      publishPart(pfs, tmp, p)
      Iterator.empty[Int]
    }.collect()
  }

  /** S11: CSV zip — archive holds `<name>.csv` (exporter.rb:53-73);
    * geometry cells hold GeoJSON text (see `csvFrame`). */
  def exportCsv(df: DataFrame, name: String,
      dir: String = System.getProperty("java.io.tmpdir")): ExportResult = {
    val path = outPath(dir, name)
    val zipFile = s"$path.zip"
    val rows = csvFrame(df)
    val zos = archiveStream(new FileOutputStream(zipFile))
    try {
      zos.putNextEntry(new ZipEntry(s"$name.csv"))
      val w = new java.io.OutputStreamWriter(zos, StandardCharsets.UTF_8)
      w.write(csvHeader(df))
      val n = df.columns.length
      rows.toLocalIterator().forEachRemaining(row => w.write(csvRecord(row, n)))
      w.flush()
      zos.closeEntry()
    } finally zos.close()
    ExportResult(name, ".csv", zipFile)
  }

  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def csvHeader(df: DataFrame): String =
    df.columns.map(csvCell).mkString(",") + "\n"

  /** One CSV line for the first `n` cells of a row — the one row renderer
    * of every CSV sink, so their archives hold the same bytes: null is an
    * empty cell, anything else `csvCell(v.toString)`. */
  private def csvRecord(row: Row, n: Int): String =
    (0 until n).map { i =>
      val v = row.get(i)
      if (v == null) "" else csvCell(v.toString)
    }.mkString("", ",", "\n")

  /** The rows the CSV sinks write: binary columns hold EWKB geometry,
    * written as GeoJSON text, the CartoDB export convention that the
    * importer decodes back into geometry. */
  private def csvFrame(df: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(df.sparkSession)
    // by position: imported tables can repeat a column name
    val byPos = df.toDF(df.columns.indices.map(i => s"_$i"): _*)
    byPos.select(df.schema.fields.toIndexedSeq.zip(byPos.columns).map { case (f, c) =>
      if (f.dataType == BinaryType) st_asgeojson(col(c)) else col(c)
    }: _*).toDF(df.columns.toIndexedSeq: _*)
  }

  /**
   * Distributed variant of the CSV export: EXECUTORS render the rows with
   * `exportCsv`'s own row renderer into part files ([[writeParts]]), and
   * the driver only streams the part files' raw bytes into the
   * single-archive contract — it never decodes a row, and the archive
   * holds the same lines as `exportCsv`'s. The zip
   * itself is inherently a sequential artifact, so O(bytes) must pass
   * through one node either way; this removes the per-row
   * serialize-on-driver cost that `exportCsv`'s toLocalIterator funnel
   * pays (the remaining driver work is a buffer copy). Same
   * one-`<name>.csv`-entry archive as `exportCsv`.
   */
  def exportCsvDistributed(df: DataFrame, name: String,
      dir: String = System.getProperty("java.io.tmpdir")): ExportResult = {
    val conf = hadoopConf(df)
    val (fs, path) = outPathFs(conf, dir, name)
    val partsDir = new Path(path.getParent, path.getName + "_parts")
    val n = df.columns.length
    writeParts(csvFrame(df).rdd, conf, fs, partsDir, ".csvpart")(
      row => csvRecord(row, n))
    val zipFile = new Path(path.getParent, path.getName + ".zip")
    val zos = archiveStream(fs.create(zipFile, true))
    try {
      zos.putNextEntry(new ZipEntry(s"$name.csv"))
      zos.write(csvHeader(df).getBytes(StandardCharsets.UTF_8))
      streamFilesInto(zos, fs, partsDir, ".csvpart")
      zos.closeEntry()
    } finally zos.close()
    fs.delete(partsDir, true)
    ExportResult(name, ".csv", zipFile.toString)
  }

  final case class ShardedExportResult(name: String, importType: String,
      manifestPath: String, shardPaths: Seq[String], rows: Long)

  /**
   * Sharded CSV export — the 100 TB export story (VERDICT r8 what's-wrong
   * #4): the single-archive contract funnels every byte through one
   * driver-side deflate stream no matter how parallel the rendering is.
   * Here each partition zips ITSELF on the executor (serialize + deflate
   * both parallel, straight through the Hadoop FS API) into an
   * independently importable `<name>-NNNNN.zip` — each shard carries its
   * own header row, so any shard re-imports standalone and the union of
   * all shards is exactly the single-archive content. The driver writes
   * only a small JSON manifest (shard names + row counts); nothing row-
   * or byte-proportional ever passes through it. Shard parts publish via
   * attempt-unique temp + rename, like every distributed sink here.
   * The single-archive sinks remain the reference-parity default.
   */
  def exportCsvSharded(df: DataFrame, name: String, shards: Int,
      dir: String = System.getProperty("java.io.tmpdir")): ShardedExportResult = {
    require(shards > 0, "shards must be positive")
    val conf = hadoopConf(df)
    val (fs, path) = outPathFs(conf, dir, name)
    val outDir = new Path(path.getParent, path.getName + "_shards")
    fs.mkdirs(outDir)
    val outDirStr = outDir.toString
    val confSer = new SerializableHadoopConf(conf)
    val header = csvHeader(df)
    val nCols = df.columns.length
    val counts = csvFrame(df).repartition(shards).rdd.mapPartitionsWithIndex { (pid, rows) =>
      val p = new Path(outDirStr, f"$name-$pid%05d.zip")
      val pfs = p.getFileSystem(confSer.value)
      val tmp = attemptTmp(p)
      val zos = archiveStream(pfs.create(tmp, true))
      var n = 0L
      try {
        zos.putNextEntry(new ZipEntry(f"$name-$pid%05d.csv"))
        val w = new java.io.OutputStreamWriter(zos, StandardCharsets.UTF_8)
        w.write(header)
        rows.foreach { row => w.write(csvRecord(row, nCols)); n += 1 }
        w.flush()
        zos.closeEntry()
      } finally zos.close()
      publishPart(pfs, tmp, p)
      Iterator.single((pid, n))
    }.collect().sortBy(_._1) // one (pid, count) pair per shard — bounded
    val shardPaths = counts.map(c => new Path(outDir, f"$name-${c._1}%05d.zip").toString)
    val total = counts.map(_._2).sum
    val manifest = new Path(outDir, s"$name.manifest.json")
    val mjson = "{\"name\":\"" + name + "\",\"rows\":" + total +
      ",\"shards\":[" + counts.map { case (pid, n) =>
        "{\"file\":\"" + f"$name-$pid%05d.zip" + "\",\"rows\":" + n + "}"
      }.mkString(",") + "]}\n"
    val mo = fs.create(manifest, true)
    try mo.write(mjson.getBytes(StandardCharsets.UTF_8)) finally mo.close()
    ShardedExportResult(name, ".csv", manifest.toString, shardPaths.toSeq, total)
  }

  /** S12: KML/KMZ — `<Placemark>` per row with ExtendedData, zipped as
    * `doc.kml` inside a `.kmz` (exporter.rb:74-94). */
  def exportKml(df: DataFrame, name: String, geomCol: String = "the_geom",
      dir: String = System.getProperty("java.io.tmpdir")): ExportResult = {
    val path = outPath(dir, name)
    val kmzFile = s"$path.kmz"
    val attrCols = df.columns.filterNot(_ == geomCol)
    val hasGeom = df.columns.contains(geomCol)
    val zos = archiveStream(new FileOutputStream(kmzFile))
    try {
      zos.putNextEntry(new ZipEntry("doc.kml"))
      val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(zos, StandardCharsets.UTF_8))
      w.print(KmlHeader(name))
      df.toLocalIterator().forEachRemaining { row =>
        w.print(placemarkText(attrCols, hasGeom, geomCol)(row))
      }
      w.print(KmlFooter)
      w.flush()
      zos.closeEntry()
    } finally zos.close()
    ExportResult(name, ".kml", kmzFile)
  }

  private def KmlHeader(name: String): String =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
      "<kml xmlns=\"http://www.opengis.net/kml/2.2\"><Document>\n" +
      s"<name>${xmlEscape(name)}</name>\n"

  private val KmlFooter: String = "</Document></kml>\n"

  /** One row's `<Placemark>` block — the per-row unit both the funnel and
    * the distributed KML sink emit, so the two archives are byte-equal. */
  private def placemarkText(attrCols: Array[String], hasGeom: Boolean,
      geomCol: String)(row: Row): String = {
    val sb = new StringBuilder("<Placemark>\n")
    if (attrCols.nonEmpty) {
      sb.append("<ExtendedData>\n")
      attrCols.foreach { c =>
        val v = row.getAs[Any](c)
        if (v != null)
          sb.append(s"""<Data name="${xmlEscape(c)}"><value>${xmlEscape(v.toString)}</value></Data>""")
            .append('\n')
      }
      sb.append("</ExtendedData>\n")
    }
    if (hasGeom) {
      Option(row.getAs[Array[Byte]](geomCol))
        .flatMap(Geometry.fromEwkb).map(_._1)
        .foreach(g => sb.append(kmlGeometry(g)).append('\n'))
    }
    sb.append("</Placemark>\n")
    sb.toString
  }

  /**
   * Distributed KML: EXECUTORS render each row's Placemark (EWKB decode +
   * XML escape happen in parallel, where the rows live) into per-partition
   * part files; the driver only streams header + part bytes + footer into
   * the single-`doc.kml` archive contract. All part-file IO goes through
   * the Hadoop FileSystem API on both sides, so the same code runs on
   * HDFS/S3A and local disk (under local[*] the cluster FS is the local
   * FS). Byte-identical to `exportKml` because toLocalIterator visits
   * partitions in the same order the part files sort.
   */
  def exportKmlDistributed(df: DataFrame, name: String, geomCol: String = "the_geom",
      dir: String = System.getProperty("java.io.tmpdir")): ExportResult = {
    val conf = hadoopConf(df)
    val (fs, path) = outPathFs(conf, dir, name)
    val kmzFile = new Path(path.getParent, path.getName + ".kmz")
    val partsDir = new Path(path.getParent, path.getName + "_parts")
    writeParts(df.rdd, conf, fs, partsDir, ".kmlpart")(placemarkText(
      df.columns.filterNot(_ == geomCol), df.columns.contains(geomCol), geomCol))
    val zos = archiveStream(fs.create(kmzFile, true))
    try {
      zos.putNextEntry(new ZipEntry("doc.kml"))
      zos.write(KmlHeader(name).getBytes(StandardCharsets.UTF_8))
      streamFilesInto(zos, fs, partsDir, ".kmlpart")
      zos.write(KmlFooter.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    } finally zos.close()
    fs.delete(partsDir, true)
    ExportResult(name, ".kml", kmzFile.toString)
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  private def coordText(cs: Seq[graft.core.geo.Coord]): String =
    cs.map(c => s"${c.x},${c.y}").mkString(" ")

  def kmlGeometry(g: Geometry): String = g match {
    case GPoint(c) => s"<Point><coordinates>${c.x},${c.y}</coordinates></Point>"
    case LineString(cs) =>
      s"<LineString><coordinates>${coordText(cs)}</coordinates></LineString>"
    case GPolygon(rings) =>
      val outer = rings.headOption.map(r =>
        s"<outerBoundaryIs><LinearRing><coordinates>${coordText(r)}</coordinates></LinearRing></outerBoundaryIs>").getOrElse("")
      val inner = rings.drop(1).map(r =>
        s"<innerBoundaryIs><LinearRing><coordinates>${coordText(r)}</coordinates></LinearRing></innerBoundaryIs>").mkString
      s"<Polygon>$outer$inner</Polygon>"
    case MultiPoint(ps) =>
      s"<MultiGeometry>${ps.map(kmlGeometry).mkString}</MultiGeometry>"
    case MultiLineString(ls) =>
      s"<MultiGeometry>${ls.map(kmlGeometry).mkString}</MultiGeometry>"
    case MultiPolygon(ps) =>
      s"<MultiGeometry>${ps.map(kmlGeometry).mkString}</MultiGeometry>"
    case GeometryCollection(gs) =>
      s"<MultiGeometry>${gs.map(kmlGeometry).mkString}</MultiGeometry>"
  }

  /** S13: zipped shapefile set `.shp .shx .dbf .prj` (exporter.rb:95-161;
    * the reference also lists `.sbn`, a spatial-index side file its own
    * toolchain never produces — mirrored by omission). */
  def exportShp(df: DataFrame, name: String, geomCol: String = "the_geom",
      dir: String = System.getProperty("java.io.tmpdir")): ExportResult = {
    val path = outPath(dir, name)
    val zipFile = s"$path.zip"
    val attrFields = df.schema.fields.filterNot(_.name == geomCol)
    val specs = dbfSpecs(attrFields)
    val geoms = IndexedSeq.newBuilder[Option[Geometry]]
    val recs = IndexedSeq.newBuilder[Seq[Any]]
    val hasGeom = df.columns.contains(geomCol)
    df.toLocalIterator().forEachRemaining { row =>
      geoms += (if (hasGeom) Option(row.getAs[Array[Byte]](geomCol))
        .flatMap(Geometry.fromEwkb).map(_._1) else None)
      recs += attrFields.map(f => row.getAs[Any](f.name)).toSeq
    }
    val pair = ShpWriter.write(geoms.result())
    val dbf = DbfWriter.write(specs, recs.result())
    val prj = Wgs84Prj
    val zos = archiveStream(new FileOutputStream(zipFile))
    try {
      def entry(ext: String, bytes: Array[Byte]): Unit = {
        zos.putNextEntry(new ZipEntry(s"$name$ext")); zos.write(bytes); zos.closeEntry()
      }
      entry(".shp", pair.shp)
      entry(".shx", pair.shx)
      entry(".dbf", dbf)
      entry(".prj", prj.getBytes(StandardCharsets.US_ASCII))
    } finally zos.close()
    ExportResult(name, ".shp", zipFile)
  }

  private def dbfSpecs(attrFields: Array[StructField]): IndexedSeq[DbfWriter.FieldSpec] =
    attrFields.map(f => f.dataType match {
      case LongType | IntegerType | ShortType => DbfWriter.FieldSpec(f.name, 'N', 18, 0)
      case DoubleType | FloatType => DbfWriter.FieldSpec(f.name, 'N', 24, 6)
      case d: DecimalType => DbfWriter.FieldSpec(f.name, 'N', math.min(d.precision + 2, 24), d.scale)
      case DateType => DbfWriter.FieldSpec(f.name, 'D', 8, 0)
      case BooleanType => DbfWriter.FieldSpec(f.name, 'L', 1, 0)
      case _ => DbfWriter.FieldSpec(f.name, 'C', 254, 0)
    }).toIndexedSeq

  /**
   * Distributed SHP: EXECUTORS serialize each row into its shapefile
   * record-content bytes + fixed-width DBF record bytes (EWKB decode and
   * all coordinate/number formatting run in parallel); per partition they
   * write three part files — `.shpc` (concatenated shape contents, no
   * record headers), `.lens` (4-byte big-endian content length per
   * record), `.dbfr` (concatenated DBF records) — and return one small
   * metadata tuple. The driver computes the global header (bbox, shape
   * type, file length) from the per-partition metadata, then STREAMS part
   * bytes into the zip, inserting only the 8-byte record headers (which
   * need the global record number, unknowable on executors). Driver work
   * is O(bytes copied) + 8 bytes/record — it never decodes a row or
   * geometry. Byte-identical to `exportShp` (same record order:
   * toLocalIterator's partition order == part-file name order).
   */
  def exportShpDistributed(df: DataFrame, name: String, geomCol: String = "the_geom",
      dir: String = System.getProperty("java.io.tmpdir")): ExportResult = {
    val conf = hadoopConf(df)
    val (fs, path) = outPathFs(conf, dir, name)
    val zipFile = new Path(path.getParent, path.getName + ".zip")
    val attrFields = df.schema.fields.filterNot(_.name == geomCol)
    val specs = dbfSpecs(attrFields)
    val hasGeom = df.columns.contains(geomCol)
    val gc = geomCol
    val partsDir = new Path(path.getParent, path.getName + "_parts")
    fs.mkdirs(partsDir)
    val partsPath = partsDir.toString
    val confSer = new SerializableHadoopConf(conf)

    val metas = df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      val pfs = new Path(partsPath).getFileSystem(confSer.value)
      // the three per-partition files (shpc/lens/dbfr) are mutually
      // consistent ONLY as a set — three independent renames could leave
      // a mixed-attempt trio under speculative/zombie races (one
      // attempt's shpc with another's lens desyncs every record offset).
      // So the trio publishes as ONE rename: written into an
      // attempt-unique temp directory, renamed wholesale over the final
      // part dir — whichever attempt wins, the trio is one attempt's
      // complete, internally consistent bytes.
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId()).getOrElse(0L)
      val finalDir = new Path(partsPath, f"part-$pid%05d.trio")
      val tmpDir = new Path(partsPath,
        f".part-$pid%05d.attempt-$attempt.tmpdir")
      pfs.mkdirs(tmpDir)
      val tmps = Seq("shpc", "lens", "dbfr").map(n => new Path(tmpDir, n))
      def out(i: Int) = new java.io.BufferedOutputStream(pfs.create(tmps(i), true))
      val shpc = out(0)
      val lens = new java.io.DataOutputStream(out(1))
      val dbfr = out(2)
      val box = Array(Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)
      var count = 0L; var stype = 0; var contentBytes = 0L
      try rows.foreach { row =>
        val gOpt = if (hasGeom) Option(row.getAs[Array[Byte]](gc))
          .flatMap(Geometry.fromEwkb).map(_._1) else None
        gOpt.foreach { g =>
          if (stype == 0) stype = ShpWriter.shapeTypeOf(g)
          ShpWriter.accumBBox(g, box)
        }
        val content = ShpWriter.recordContent(gOpt)
        shpc.write(content); lens.writeInt(content.length); contentBytes += content.length
        dbfr.write(DbfWriter.recordBytes(specs, attrFields.map(f => row.getAs[Any](f.name)).toSeq))
        count += 1
      } finally { shpc.close(); lens.close(); dbfr.close() }
      if (pfs.exists(finalDir)) pfs.delete(finalDir, true)
      if (!pfs.rename(tmpDir, finalDir))
        throw new java.io.IOException(s"publish $tmpDir -> $finalDir failed")
      Iterator.single((pid, count, stype, box, contentBytes))
    }.collect().sortBy(_._1) // one 5-field tuple per partition — bounded

    val total = metas.map(_._2).sum
    val shapeType = metas.map(_._3).find(_ != 0).getOrElse(0)
    val box = Array(Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)
    metas.foreach { m =>
      box(0) = math.min(box(0), m._4(0)); box(1) = math.min(box(1), m._4(1))
      box(2) = math.max(box(2), m._4(2)); box(3) = math.max(box(3), m._4(3))
    }
    if (shapeType == 0 || box(0) > box(2)) { box(0) = 0; box(1) = 0; box(2) = 0; box(3) = 0 }
    val bbox = (box(0), box(1), box(2), box(3))
    val contentWords = metas.map(_._5).sum / 2
    val shpLenWords = (50L + 4L * total + contentWords).toInt
    val shxLenWords = (50L + 4L * total).toInt

    def lensOf(pid: Int) = new java.io.DataInputStream(new java.io.BufferedInputStream(
      fs.open(new Path(partsDir, f"part-$pid%05d.trio/lens"))))

    val zos = archiveStream(fs.create(zipFile, true))
    try {
      // .shp — stream each partition's contents, prefixing record headers
      zos.putNextEntry(new ZipEntry(s"$name.shp"))
      zos.write(ShpWriter.fileHeader(shapeType, bbox, shpLenWords))
      var recNum = 1
      val buf = new Array[Byte](1 << 16)
      metas.foreach { m =>
        val lin = lensOf(m._1)
        val cin = new java.io.BufferedInputStream(
          fs.open(new Path(partsDir, f"part-${m._1}%05d.trio/shpc")))
        try {
          var i = 0L
          while (i < m._2) {
            val len = lin.readInt()
            val hdr = java.nio.ByteBuffer.allocate(8)
            hdr.putInt(recNum).putInt(len / 2)
            zos.write(hdr.array())
            var rem = len
            while (rem > 0) {
              val n = cin.read(buf, 0, math.min(rem, buf.length))
              zos.write(buf, 0, n); rem -= n
            }
            recNum += 1; i += 1
          }
        } finally { lin.close(); cin.close() }
      }
      zos.closeEntry()
      // .shx — offsets reconstructed from the length streams alone
      zos.putNextEntry(new ZipEntry(s"$name.shx"))
      zos.write(ShpWriter.fileHeader(shapeType, bbox, shxLenWords))
      var offsetWords = 50L
      metas.foreach { m =>
        val lin = lensOf(m._1)
        try {
          var i = 0L
          while (i < m._2) {
            val len = lin.readInt()
            val e = java.nio.ByteBuffer.allocate(8)
            e.putInt(offsetWords.toInt).putInt(len / 2)
            zos.write(e.array())
            offsetWords += 4 + len / 2; i += 1
          }
        } finally lin.close()
      }
      zos.closeEntry()
      // .dbf — header on the driver, record bytes streamed verbatim
      zos.putNextEntry(new ZipEntry(s"$name.dbf"))
      zos.write(DbfWriter.headerBytes(specs, total.toInt))
      val dbfBuf = new Array[Byte](1 << 16)
      metas.foreach(m => streamFileInto(zos, fs,
        new Path(partsDir, f"part-${m._1}%05d.trio/dbfr"), dbfBuf))
      zos.write(0x1A)
      zos.closeEntry()
      zos.putNextEntry(new ZipEntry(s"$name.prj"))
      zos.write(Wgs84Prj.getBytes(StandardCharsets.US_ASCII))
      zos.closeEntry()
    } finally zos.close()
    fs.delete(partsDir, true)
    ExportResult(name, ".shp", zipFile.toString)
  }

  /** ESRI WKT for EPSG:4326 (public well-known text). */
  val Wgs84Prj: String =
    """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["Degree",0.017453292519943295]]"""
}
