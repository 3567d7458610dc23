package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The CSV reader's column names come from the driver's parse of the file
  * head, not from a Spark header-inference job: they must equal the names
  * Spark's CSV source infers for the same file and options, and the rows
  * must be the rows Spark reads. */
class CsvHeaderSpec extends AnyFunSuite with SparkTestBase {

  private val fixtureDir =
    Paths.get(getClass.getResource("/fixtures/clubbing.csv").toURI).getParent
  private val scratch = Files.createTempDirectory("graft_csvhdr_")

  override def afterAll(): Unit =
    try Archive.cleanup(scratch.toFile) finally super.afterAll()

  /** Every `.csv` fixture, plus each `.csv` entry of the fixture zips. */
  private lazy val fixtureCsvs: Seq[Path] = {
    val files = Files.list(fixtureDir).toArray.toSeq.map(_.asInstanceOf[Path])
    val plain = files.filter(_.toString.endsWith(".csv"))
    val zipped = files.filter(_.toString.endsWith(".zip")).flatMap { z =>
      val zf = new java.util.zip.ZipFile(z.toFile)
      try {
        import scala.jdk.CollectionConverters._
        zf.entries().asScala.toSeq
          .filter(e => !e.isDirectory && e.getName.toLowerCase.endsWith(".csv"))
          .map { e =>
            val out = scratch.resolve(s"${z.getFileName}_${Paths.get(e.getName).getFileName}")
            val in = zf.getInputStream(e)
            try Files.copy(in, out) finally in.close()
            out
          }
      } finally zf.close()
    }
    (plain ++ zipped).sortBy(_.toString)
  }

  private def crafted(name: String, bytes: Array[Byte]): Path = {
    Files.write(scratch.resolve(name), bytes)
  }
  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)

  private def assertParity(path: Path): Unit = {
    val p = path.toString
    val (d, raw) = CsvImport.rawFrame(spark, p)
    val inferred = spark.read.options(CsvImport.readerOptions(d)).csv(p)
    assert(raw.columns.toSeq == inferred.columns.toSeq, s"names of $path")
    assert(raw.collect().toSeq == inferred.collect().toSeq, s"rows of $path")
  }

  test("driver-derived names equal Spark's inferred names on every CSV fixture") {
    assert(fixtureCsvs.size >= 10, fixtureCsvs.mkString(","))
    fixtureCsvs.foreach(assertParity)
  }

  test("driver-derived names equal Spark's on crafted headers") {
    val cases = Seq(
      // a BOM, then a leading blank line: both skipped before the header
      crafted("bom_blank.csv", utf8("\uFEFF\nname,qty\nalpha,1\n")),
      crafted("bom.csv", utf8("\uFEFFname,qty\nalpha,1\n")),
      // a blank cell names _c<i>; case-insensitive repeats name<i>
      crafted("blank_dups.csv", utf8("a,,B,b,A,c\n1,2,3,4,5,6\n")),
      // quoted cells holding the delimiter, a doubled quote, a newline
      crafted("quoted.csv",
        utf8("\"x,y\",\"say \"\"hi\"\"\",\"multi\nline\",z\n1,2,3,4\n")),
      // a Latin-1 header (not valid UTF-8, so sniffed as ISO-8859-1)
      crafted("latin1.csv",
        "café,niño\n1,2\n".getBytes(StandardCharsets.ISO_8859_1)),
      // a numeric first row: headerless, every column _c<i>
      crafted("headerless.csv", utf8("1,2,3\n4,5,6\n")),
      // a semicolon dialect with CRLF line ends
      crafted("semicolon.csv", utf8("id;name;\r\n1;a;\r\n")))
    assert(!CsvImport.sniff(cases(5).toString).hasHeader)
    assert(CsvImport.sniff(cases(4).toString).encoding == "ISO-8859-1")
    cases.foreach(assertParity)
  }

  test("a header record longer than the sniffed head is read past it") {
    val wide = (0 until 9000).map(i => s"column_number_$i").mkString(",")
    val f = crafted("wide.csv", utf8(wide + "\n" + (0 until 9000).mkString(",") + "\n"))
    assert(wide.length > 64 * 1024)
    val (_, raw) = CsvImport.rawFrame(spark, f.toString)
    assert(raw.columns.length == 9000 && raw.columns.last == "column_number_8999")
  }

  test("planning the CSV read runs no Spark job") {
    val p = fixtureDir.resolve("clubbing.csv").toString
    CsvImport.rawFrame(spark, p) // warm the session
    assert(sparkJobs(CsvImport.rawFrame(spark, p)) == 0)
  }
}
