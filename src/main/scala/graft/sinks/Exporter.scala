package graft.sinks

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, OutputStream, OutputStreamWriter}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
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
 * One path per format. The reference's contract is one archive file, so
 * each archive sink runs one Spark job in which the executors render their rows
 * into part files ([[writePartitions]]); the driver then streams header,
 * part bytes and footer into the archive and never decodes a row. All IO
 * goes through the Hadoop FileSystem API, so `dir` may be any scheme the
 * cluster mounts (hdfs://, s3a://, a plain local path). Multi-archive
 * export is [[exportCsvSharded]].
 */
object Exporter {

  final case class ExportResult(name: String, importType: String, path: String)

  /** Hadoop Configuration that survives the task-closure serializer —
    * the sinks ship it to executors so part files land on the CLUSTER
    * filesystem (HDFS/S3/local-under-local[*]), not each executor's
    * private disk. Same writeObject/readFields shape Spark uses
    * internally. */
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

  /** The filesystem of `p`, unwrapped when it is a ChecksumFileSystem
    * (the local FS is one): that wrapper leaves a `.crc` sidecar beside
    * every file it creates, and an export's output is its archives alone. */
  private def fsOf(p: Path, conf: Configuration): FileSystem = p.getFileSystem(conf) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case fs => fs
  }

  /** The Hadoop conf, the filesystem of `dir` and a fresh
    * `exporting_<id>_<name>` base path under it. */
  private def target(df: DataFrame, dir: String,
      name: String): (Configuration, FileSystem, Path) = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val d = new Path(dir)
    val fs = fsOf(d, conf)
    fs.mkdirs(d)
    (conf, fs, new Path(d,
      s"exporting_${java.util.UUID.randomUUID().toString.take(8)}_$name"))
  }

  private def sibling(p: Path, suffix: String): Path = new Path(p.getParent, p.getName + suffix)

  private def partDir(partsDir: Path, pid: Int): Path = new Path(partsDir, f"part-$pid%05d")

  /** Archive stream with deflate at BEST_SPEED: the zip is inherently a
    * single-stream artifact, so its deflate runs on ONE driver core no
    * matter how distributed the row rendering is — at default level the
    * compressor, not the copy, dominates. Level 1 keeps the archive a
    * standard zip (entry bytes are the same after inflate) at a fraction
    * of the CPU. */
  private def archiveStream(out: OutputStream): ZipOutputStream = {
    val zos = new ZipOutputStream(out)
    zos.setLevel(java.util.zip.Deflater.BEST_SPEED)
    zos
  }

  private def copyInto(zos: ZipOutputStream, fs: FileSystem, p: Path,
      buf: Array[Byte]): Unit = {
    val in = fs.open(p)
    try {
      var n = in.read(buf)
      while (n > 0) { zos.write(buf, 0, n); n = in.read(buf) }
    } finally in.close()
  }

  /**
   * Runs `write(pid, rows, out)` over every partition of `rows` on the
   * executors, in one Spark job, and returns its results in partition
   * order. `out(file)` opens `file` in an attempt-unique temp directory,
   * which is published as `partsDir/part-NNNNN` with one rename once
   * `write` returns. Deterministic names alone are NOT safe: with
   * speculative execution (or a zombie attempt racing a retry) two
   * attempts can hold open streams on the same file and interleave
   * bytes, and a partition's files are consistent only as a set (SHP's
   * lengths index its contents). The published directory is always ONE
   * attempt's complete files, whichever attempt wins.
   */
  private def writePartitions[T: ClassTag](rows: RDD[Row], conf: Configuration,
      partsDir: Path)(write: (Int, Iterator[Row], String => OutputStream) => T): Array[T] = {
    val partsPath = partsDir.toString
    val confSer = new SerializableHadoopConf(conf)
    rows.mapPartitionsWithIndex { (pid, it) =>
      val parts = new Path(partsPath)
      val fs = fsOf(parts, confSer.value)
      val attempt = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
      val tmp = new Path(parts, f".part-$pid%05d.attempt-$attempt.tmp")
      val done = partDir(parts, pid)
      fs.mkdirs(tmp)
      val r = write(pid, it, f => new BufferedOutputStream(fs.create(new Path(tmp, f), true)))
      if (fs.exists(done)) fs.delete(done, true)
      if (!fs.rename(tmp, done))
        throw new java.io.IOException(s"publish $tmp -> $done failed")
      Iterator.single(r)
    }.collect()
  }

  /** The one-entry archive of the CSV and KML sinks: `<base><ext>` whose
    * `entry` holds `header`, then every row's `render` in partition
    * order, then `footer`. Returns the archive's path. */
  private def textArchive(df: DataFrame, rows: RDD[Row], dir: String, name: String,
      ext: String, entry: String, header: String, footer: String)
      (render: Row => String): String = {
    val (conf, fs, base) = target(df, dir, name)
    val partsDir = sibling(base, "_parts")
    val archive = sibling(base, ext)
    try {
      val parts = writePartitions(rows, conf, partsDir) { (_, it, out) =>
        val w = new OutputStreamWriter(out("rows"), StandardCharsets.UTF_8)
        try it.foreach(row => w.write(render(row))) finally w.close()
      }
      val zos = archiveStream(fs.create(archive, true))
      try {
        zos.putNextEntry(new ZipEntry(entry))
        zos.write(header.getBytes(StandardCharsets.UTF_8))
        val buf = new Array[Byte](1 << 16)
        parts.indices.foreach(pid => copyInto(zos, fs, new Path(partDir(partsDir, pid), "rows"), buf))
        zos.write(footer.getBytes(StandardCharsets.UTF_8))
        zos.closeEntry()
      } finally zos.close()
    } finally fs.delete(partsDir, true)
    archive.toString
  }

  /** S11: CSV zip — archive holds `<name>.csv` (exporter.rb:53-73);
    * geometry cells hold GeoJSON text (see `csvFrame`). */
  def exportCsv(df: DataFrame, name: String,
      dir: String = System.getProperty("java.io.tmpdir")): ExportResult = {
    val n = df.columns.length
    ExportResult(name, ".csv", textArchive(df, csvFrame(df).rdd, dir, name,
      ".zip", s"$name.csv", csvHeader(df), "")(csvRecord(_, n)))
  }

  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def csvHeader(df: DataFrame): String =
    df.columns.map(csvCell).mkString(",") + "\n"

  /** One CSV line for the first `n` cells of a row — the one row renderer
    * of both CSV sinks, so their archives hold the same bytes: null is an
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
   * all shards is exactly the single-archive content. The driver moves
   * each published shard into the output directory and writes a small
   * JSON manifest (shard names + row counts); nothing row- or
   * byte-proportional ever passes through it.
   */
  def exportCsvSharded(df: DataFrame, name: String, shards: Int,
      dir: String = System.getProperty("java.io.tmpdir")): ShardedExportResult = {
    require(shards > 0, "shards must be positive")
    val (conf, fs, base) = target(df, dir, name)
    val outDir = sibling(base, "_shards")
    val partsDir = sibling(base, "_parts")
    val header = csvHeader(df)
    val nCols = df.columns.length
    def shard(pid: Int) = f"$name-$pid%05d"
    val counts = try {
      val counts = writePartitions(csvFrame(df).repartition(shards).rdd, conf, partsDir) {
        (pid, rows, out) =>
          val zos = archiveStream(out(shard(pid) + ".zip"))
          var n = 0L
          try {
            zos.putNextEntry(new ZipEntry(shard(pid) + ".csv"))
            val w = new OutputStreamWriter(zos, StandardCharsets.UTF_8)
            w.write(header)
            rows.foreach { row => w.write(csvRecord(row, nCols)); n += 1 }
            w.flush()
            zos.closeEntry()
          } finally zos.close()
          n
      }
      fs.mkdirs(outDir)
      counts.indices.foreach { pid =>
        val from = new Path(partDir(partsDir, pid), shard(pid) + ".zip")
        if (!fs.rename(from, new Path(outDir, shard(pid) + ".zip")))
          throw new java.io.IOException(s"move $from -> $outDir failed")
      }
      counts
    } finally fs.delete(partsDir, true)
    val total = counts.sum
    val manifest = new Path(outDir, s"$name.manifest.json")
    val mjson = "{\"name\":\"" + name + "\",\"rows\":" + total +
      ",\"shards\":[" + counts.indices.map { pid =>
        "{\"file\":\"" + shard(pid) + ".zip\",\"rows\":" + counts(pid) + "}"
      }.mkString(",") + "]}\n"
    val mo = fs.create(manifest, true)
    try mo.write(mjson.getBytes(StandardCharsets.UTF_8)) finally mo.close()
    ShardedExportResult(name, ".csv", manifest.toString,
      counts.indices.map(pid => new Path(outDir, shard(pid) + ".zip").toString), total)
  }

  /** The position of `geomCol` (-1 when absent) and of every other
    * column. Cells are read by position: imported tables can repeat a
    * column name. */
  private def layout(df: DataFrame, geomCol: String): (Int, IndexedSeq[Int]) =
    (df.columns.indexOf(geomCol), df.columns.indices.filter(df.columns(_) != geomCol))

  private def geometryAt(row: Row, i: Int): Option[Geometry] =
    if (i < 0) None
    else Option(row.getAs[Array[Byte]](i)).flatMap(Geometry.fromEwkb).map(_._1)

  /** S12: KML/KMZ — `<Placemark>` per row with ExtendedData, zipped as
    * `doc.kml` inside a `.kmz` (exporter.rb:74-94). Executors render the
    * Placemarks (EWKB decode + XML escape run where the rows live). */
  def exportKml(df: DataFrame, name: String, geomCol: String = "the_geom",
      dir: String = System.getProperty("java.io.tmpdir")): ExportResult = {
    val (geom, attrs) = layout(df, geomCol)
    val named = attrs.map(i => (i, xmlEscape(df.columns(i))))
    ExportResult(name, ".kml", textArchive(df, df.rdd, dir, name, ".kmz", "doc.kml",
      KmlHeader(name), KmlFooter)(placemarkText(named, geom)))
  }

  private def KmlHeader(name: String): String =
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
      "<kml xmlns=\"http://www.opengis.net/kml/2.2\"><Document>\n" +
      s"<name>${xmlEscape(name)}</name>\n"

  private val KmlFooter: String = "</Document></kml>\n"

  /** One row's `<Placemark>` block; `attrs` pairs each attribute's
    * position with its escaped name. */
  private def placemarkText(attrs: IndexedSeq[(Int, String)], geom: Int)(row: Row): String = {
    val sb = new StringBuilder("<Placemark>\n")
    if (attrs.nonEmpty) {
      sb.append("<ExtendedData>\n")
      attrs.foreach { case (i, n) =>
        val v = row.get(i)
        if (v != null)
          sb.append(s"""<Data name="$n"><value>${xmlEscape(v.toString)}</value></Data>""")
            .append('\n')
      }
      sb.append("</ExtendedData>\n")
    }
    geometryAt(row, geom).foreach(g => sb.append(kmlGeometry(g)).append('\n'))
    sb.append("</Placemark>\n")
    sb.toString
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  private def coordText(cs: Seq[graft.core.geo.Coord]): String =
    cs.map(c => s"${c.x},${c.y}").mkString(" ")

  private def kmlGeometry(g: Geometry): String = g match {
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

  private[graft] def dbfSpecs(attrFields: Seq[StructField]): IndexedSeq[DbfWriter.FieldSpec] =
    attrFields.map(f => f.dataType match {
      case LongType | IntegerType | ShortType => DbfWriter.FieldSpec(f.name, 'N', 18, 0)
      case DoubleType | FloatType => DbfWriter.FieldSpec(f.name, 'N', 24, 6)
      case d: DecimalType => DbfWriter.FieldSpec(f.name, 'N', math.min(d.precision + 2, 24), d.scale)
      case DateType => DbfWriter.FieldSpec(f.name, 'D', 8, 0)
      case BooleanType => DbfWriter.FieldSpec(f.name, 'L', 1, 0)
      case _ => DbfWriter.FieldSpec(f.name, 'C', 254, 0)
    }).toIndexedSeq

  private def twoInts(a: Int, b: Int): Array[Byte] =
    ByteBuffer.allocate(8).putInt(a).putInt(b).array()

  /**
   * S13: zipped shapefile set `.shp .shx .dbf .prj` (exporter.rb:95-161;
   * the reference also lists `.sbn`, a spatial-index side file its own
   * toolchain never produces — mirrored by omission). Executors serialize
   * each row into its shape record content and fixed-width DBF record
   * (EWKB decode and all number formatting run in parallel); per
   * partition they write `shpc` (the contents, no record headers), `lens`
   * (each content's length, a 4-byte big-endian int) and `dbfr` (the DBF
   * records), and return (records, shape type, bbox, content bytes). The
   * driver builds the global headers from those, then streams the part
   * bytes into the zip, inserting only the 8-byte record headers, whose
   * global record numbers executors cannot know. The members equal
   * `ShpWriter.write`/`DbfWriter.write` over the rows in partition order.
   */
  def exportShp(df: DataFrame, name: String, geomCol: String = "the_geom",
      dir: String = System.getProperty("java.io.tmpdir")): ExportResult = {
    val (geom, attrs) = layout(df, geomCol)
    val specs = dbfSpecs(attrs.map(df.schema.fields(_)))
    val (conf, fs, base) = target(df, dir, name)
    val partsDir = sibling(base, "_parts")
    val zipFile = sibling(base, ".zip")
    try {
      val metas = writePartitions(df.rdd, conf, partsDir) { (_, rows, out) =>
        val shpc = out("shpc")
        val lens = new DataOutputStream(out("lens"))
        val dbfr = out("dbfr")
        val box = Array(Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)
        var count = 0L; var stype = 0; var contentBytes = 0L
        try rows.foreach { row =>
          val gOpt = geometryAt(row, geom)
          gOpt.foreach { g =>
            if (stype == 0) stype = ShpWriter.shapeTypeOf(g)
            ShpWriter.accumBBox(g, box)
          }
          val content = ShpWriter.recordContent(gOpt)
          shpc.write(content); lens.writeInt(content.length); contentBytes += content.length
          dbfr.write(DbfWriter.recordBytes(specs, attrs.map(row.get)))
          count += 1
        } finally { shpc.close(); lens.close(); dbfr.close() }
        (count, stype, box, contentBytes)
      }

      val total = metas.map(_._1).sum
      val shapeType = metas.map(_._2).find(_ != 0).getOrElse(0)
      val box = Array(Double.MaxValue, Double.MaxValue, Double.MinValue, Double.MinValue)
      metas.foreach { m =>
        box(0) = math.min(box(0), m._3(0)); box(1) = math.min(box(1), m._3(1))
        box(2) = math.max(box(2), m._3(2)); box(3) = math.max(box(3), m._3(3))
      }
      if (shapeType == 0 || box(0) > box(2)) { box(0) = 0; box(1) = 0; box(2) = 0; box(3) = 0 }
      val bbox = (box(0), box(1), box(2), box(3))
      val shpLenWords = (50L + 4L * total + metas.map(_._4).sum / 2).toInt
      val shxLenWords = (50L + 4L * total).toInt
      def part(pid: Int, file: String) = new Path(partDir(partsDir, pid), file)
      // calls `f` with each record length of partition `pid`, in order
      def eachLen(pid: Int)(f: Int => Unit): Unit = {
        val lin = new DataInputStream(new BufferedInputStream(fs.open(part(pid, "lens"))))
        try { var i = 0L; while (i < metas(pid)._1) { f(lin.readInt()); i += 1 } }
        finally lin.close()
      }

      val zos = archiveStream(fs.create(zipFile, true))
      try {
        zos.putNextEntry(new ZipEntry(s"$name.shp"))
        zos.write(ShpWriter.fileHeader(shapeType, bbox, shpLenWords))
        var recNum = 1
        val buf = new Array[Byte](1 << 16)
        metas.indices.foreach { pid =>
          val cin = new BufferedInputStream(fs.open(part(pid, "shpc")))
          try eachLen(pid) { len =>
            zos.write(twoInts(recNum, len / 2))
            var rem = len
            while (rem > 0) {
              val n = cin.read(buf, 0, math.min(rem, buf.length))
              zos.write(buf, 0, n); rem -= n
            }
            recNum += 1
          } finally cin.close()
        }
        zos.closeEntry()
        // .shx — offsets reconstructed from the length streams alone
        zos.putNextEntry(new ZipEntry(s"$name.shx"))
        zos.write(ShpWriter.fileHeader(shapeType, bbox, shxLenWords))
        var offsetWords = 50
        metas.indices.foreach(pid => eachLen(pid) { len =>
          zos.write(twoInts(offsetWords, len / 2))
          offsetWords += 4 + len / 2
        })
        zos.closeEntry()
        zos.putNextEntry(new ZipEntry(s"$name.dbf"))
        zos.write(DbfWriter.headerBytes(specs, total.toInt))
        metas.indices.foreach(pid => copyInto(zos, fs, part(pid, "dbfr"), buf))
        zos.write(0x1A)
        zos.closeEntry()
        zos.putNextEntry(new ZipEntry(s"$name.prj"))
        zos.write(Wgs84Prj.getBytes(StandardCharsets.US_ASCII))
        zos.closeEntry()
      } finally zos.close()
    } finally fs.delete(partsDir, true)
    ExportResult(name, ".shp", zipFile.toString)
  }

  /** ESRI WKT for EPSG:4326 (public well-known text). */
  private val Wgs84Prj: String =
    """GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",SPHEROID["WGS_1984",6378137,298.257223563]],PRIMEM["Greenwich",0],UNIT["Degree",0.017453292519943295]]"""
}
