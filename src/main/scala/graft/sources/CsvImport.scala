package graft.sources

import java.io.{ByteArrayInputStream, InputStream, SequenceInputStream}
import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, Paths}

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.Identifier
import graft.operators.SchemaInference

/**
 * CSV import path (SURVEY.md §2.1 S7/S14, §2.4 A2/A3, §2.2 P1/P5):
 * encoding detection → delimiter/quote sniffing → header sanitization →
 * distributed type-lattice inference → typed DataFrame.
 *
 * The sniffing pre-pass reads only the file head on the driver
 * (reference: importer.rb:489-526, misc/csv_normalizer.py) and derives
 * the column names from the same bytes, so the read plans with an explicit
 * all-string schema and launches no job. The data scan itself is Spark's
 * CSV reader plus the one-job inference fold.
 */
object CsvImport {

  final case class CsvDialect(
      delimiter: String, quote: String, encoding: String, headerLine: String,
      hasHeader: Boolean)

  /** OGR CSV-driver header heuristic (the reference's live CSV path runs
    * through ogr2ogr, importer.rb:228-236): the first line is a header only
    * if NONE of its cells parses as a number — estaciones2.csv's numeric
    * first cell makes it headerless, which is how the reference's golden
    * row count (30 = all lines) arises. Headerless columns are named
    * field_1..field_n, OGR's convention. */
  def looksLikeHeader(cells: Seq[String], quote: String): Boolean =
    !cells.exists { c0 =>
      val c = c0.stripPrefix(quote).stripSuffix(quote).trim
      c.nonEmpty && c.matches("[-+]?[0-9]+([.,][0-9]+)?")
    }

  /** Byte-level encoding sniff of the file head (F18). Reproduces the
    * pragmatic contract of the reference's chardet use: ASCII and valid
    * UTF-8 read as UTF-8; anything else falls back to LATIN1
    * (misc/shp_normalizer.py:53-54 remaps ascii→LATIN1 — for our UTF-8
    * world the observable behavior is identical). */
  def detectEncoding(bytes: Array[Byte]): String = {
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try { dec.decode(java.nio.ByteBuffer.wrap(bytes)); "UTF-8" }
    catch { case _: Exception => "ISO-8859-1" }
  }

  /** Separator sniff (A2, importer.rb:489-502): if the header parses as a
    * single column under ',', try every non-word, non-space character in
    * it as a candidate and keep the one yielding the most columns.
    * Ruby's `sort{...}.last` keeps the LAST max under ties — mirrored by
    * maxBy on (count, index). */
  def detectDelimiter(headerLine: String): String = {
    val defaultCols = splitCsvLine(headerLine, ',', '"')
    if (defaultCols.length > 1) return ","
    val candidates = headerLine
      .filter(c => !c.isLetterOrDigit && c != '_' && !c.isWhitespace).distinct
    if (candidates.isEmpty) ","
    else {
      val scored = candidates.zipWithIndex.map { case (c, i) =>
        (c, splitCsvLine(headerLine, c, '"').length, i)
      }
      scored.maxBy(s => (s._2, s._3))._1.toString
    }
  }

  /** Quote-char sniff (importer.rb:510-515,521-526): first cell wrapped in
    * matching " ` or ' decides the quote. */
  def detectQuote(sampleLines: Seq[String], delimiter: String): String = {
    val Wrapped = "^([\"`'])[^\"`']+([\"`'])$".r
    sampleLines.iterator
      .flatMap(_.split(java.util.regex.Pattern.quote(delimiter), -1))
      .collectFirst { case Wrapped(a, b) if a == b => a }
      .getOrElse("\"")
  }

  /** Minimal single-line CSV splitter for the sniffing pre-pass. */
  private[sources] def splitCsvLine(line: String, sep: Char, quote: Char): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inQ = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == quote) inQ = !inQ
      else if (c == sep && !inQ) { out += sb.toString; sb.clear() }
      else sb.append(c)
      i += 1
    }
    out += sb.toString
    out.toArray
  }

  private val HeadBytes = 64 * 1024

  private def readHead(path: String, headBytes: Int): Array[Byte] = {
    val in = Files.newInputStream(Paths.get(path))
    try in.readNBytes(headBytes) finally in.close()
  }

  /** Driver pre-pass over the file head: encoding + dialect. */
  def sniff(path: String, headBytes: Int = HeadBytes): CsvDialect =
    dialectOf(readHead(path, headBytes))

  private def dialectOf(head: Array[Byte]): CsvDialect = {
    val encoding = detectEncoding(head)
    val text = new String(head, Charset.forName(encoding))
    val lines = text.split("\r\n|\r|\n", -1).toSeq
    val headerLine = lines.headOption.getOrElse("")
    val delim = detectDelimiter(headerLine)
    val quote = detectQuote(lines.take(50), delim)
    val header = looksLikeHeader(
      splitCsvLine(headerLine, delim.head, quote.head).toIndexedSeq, quote)
    CsvDialect(delim, quote, encoding, headerLine, header)
  }

  /** The options every CSV read of a sniffed file passes to Spark. */
  private[sources] def readerOptions(d: CsvDialect): Map[String, String] = Map(
    "header" -> d.hasHeader.toString,
    "sep" -> d.delimiter,
    "quote" -> d.quote,
    "escape" -> d.quote, // CSV doubled-quote convention
    "multiLine" -> "true",
    "encoding" -> d.encoding,
    "mode" -> "PERMISSIVE")

  /** The column names Spark's CSV source would infer for `path` under
    * `d`, derived on the driver from the file head: its first record,
    * tokenized by the univocity parser with the settings Spark's
    * multi-line reader uses (separator, quote, escape, encoding, BOM,
    * blank-line skipping), named by Spark's own `makeSafeHeader` (a blank
    * cell becomes `_c<i>`, case-insensitive repeats `name<i>`; headerless
    * files `_c<i>`). Reads past `head` only when the first record runs
    * beyond it. */
  private def columnNames(spark: SparkSession, path: String,
      d: CsvDialect, head: Array[Byte]): IndexedSeq[String] = {
    val opts = new CSVOptions(readerOptions(d), true,
      spark.conf.get("spark.sql.session.timeZone"))
    val in: InputStream =
      if (head.length < HeadBytes) new ByteArrayInputStream(head)
      else {
        val rest = Files.newInputStream(Paths.get(path))
        rest.skipNBytes(head.length)
        new SequenceInputStream(new ByteArrayInputStream(head), rest)
      }
    val parser = new CsvParser(opts.asParserSettings)
    val first = try {
      parser.beginParsing(in, opts.charset)
      parser.parseNext()
    } finally parser.stopParsing()
    if (first == null) IndexedSeq.empty
    else CSVUtils.makeSafeHeader(first,
      spark.conf.get("spark.sql.caseSensitive").toBoolean, opts).toIndexedSeq
  }

  /** Spark's CSV reader over `path` with the sniffed dialect and the
    * driver-derived column names as an all-string schema: planning it
    * runs no job. */
  private[sources] def rawFrame(spark: SparkSession, path: String): (CsvDialect, DataFrame) = {
    val head = readHead(path, HeadBytes)
    val d = dialectOf(head)
    val schema = StructType(columnNames(spark, path, d, head)
      .map(StructField(_, StringType, nullable = true)))
    (d, spark.read.options(readerOptions(d)).schema(schema).csv(path))
  }

  /**
   * Full CSV import: sniff → parallel Spark CSV read (multiLine for quoted
   * newlines, matching the reference's ogr2ogr tolerance) → sanitized
   * header (P1) → one-pass lattice inference (A3) → typed columns.
   */
  def read(spark: SparkSession, path: String,
      inferTypes: Boolean = true,
      inferSampleRows: Option[Long] = Some(SchemaInference.DefaultImportSampleRows),
      validateSample: Boolean = false)
      : DataFrame = {
    val (d, raw0) = rawFrame(spark, path)
    val raw = if (d.hasHeader) raw0
      else raw0.toDF(raw0.columns.indices.map(i => s"field_${i + 1}"): _*)
    val named = raw.toDF(Identifier.sanitizeHeader(raw.columns.toIndexedSeq): _*)
    if (!inferTypes) named
    else {
      // Scale path (SURVEY §4 divergence): the DEFAULT fold is sample-only —
      // bounded by inferSampleRows, flat cost in input size (measured:
      // 1.35 s at 6M rows ≈ 1.17 s at 600k; the full fold grows with the
      // data). A value past the sample that defies the verdict lands as
      // NULL via try_cast — the reference's own null-on-failure import
      // semantics, pinned by ImporterSpec's late-defier case.
      // validateSample=true upgrades to sampled+validated+full-fold-
      // fallback (inferTypesWithFallback): a no-new-nulls guarantee for
      // one extra cheap try_cast scan. inferSampleRows=None forces the
      // reference's exact full-scan fold.
      val types = inferSampleRows match {
        case Some(n) if validateSample =>
          SchemaInference.inferTypesWithFallback(named, n)._1
        case Some(n) => SchemaInference.inferTypesSampled(named, n)
        case None    => SchemaInference.inferTypes(named)
      }
      SchemaInference.applyInferredTypes(named, types)
    }
  }
}
