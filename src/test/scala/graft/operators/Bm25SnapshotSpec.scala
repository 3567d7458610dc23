package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Each BM25 serve resolves the index once: Spark jobs per serve, as-of
  * serves against a retained version, and the stats-row corruption guard
  * on every dictionary probe. */
class Bm25SnapshotSpec extends AnyFunSuite with SparkTestBase {

  private def corpus() = {
    import spark.implicits._
    (1L to 60L).map { i =>
      val extra = if (i % 5 == 0) " rare" else ""
      val pad = Seq.fill((i % 7).toInt)("filler").mkString(" ")
      val text = s"common data table row$i sort$extra $pad"
      (i, text, text.length.toLong)
    }.toDF("doc_id", "text", "n_chars")
  }

  /** Even ids built, odd ids appended as a second segment, doc values on
    * both, two tombstones. */
  private def twoSegmentIndex(positions: Boolean = false): String = {
    val docs = corpus()
    val root = Files.createTempDirectory("bm25snap").toString
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", root, nBuckets = 4, positions = positions,
      docValueCols = Seq("n_chars"))
    TextAnalysis.appendBm25Segment(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", root, nBuckets = 4)
    TextAnalysis.deleteBm25Docs(spark, root, Seq(5L, 12L))
    root
  }

  // Job counts are deterministic, so they pin each serve's fixed cost:
  // resolving the index reads small files on the driver and runs no job.
  test("Spark jobs per serve on a two-segment index with tombstones") {
    val root = twoSegmentIndex()
    val docs = corpus()
    val serves: Seq[(String, () => Unit)] = Seq(
      "term" -> (() =>
        TextAnalysis.bm25ServeTopK(spark, root, "rare table", 10).collect()),
      "query_string" -> (() =>
        TextAnalysis.queryStringTopK(spark, root, "+table rare -row7", 10)
          .collect()),
      "prefix" -> (() =>
        TextAnalysis.bm25ServePrefixTopK(spark, root, "row1", 10).collect()),
      "agg_mad" -> (() =>
        TextAnalysis.bm25MadAgg(spark, root, "rare data", "n_chars")
          .collect()),
      "agg_percentiles" -> (() =>
        TextAnalysis.bm25PercentilesAgg(spark, root, "rare data", "n_chars",
          Seq(50, 90, 99)).collect()),
      "agg_sigterms" -> (() =>
        TextAnalysis.bm25SignificantTerms(spark, root, "rare", docs,
          "doc_id", "text", 10).collect()))
    serves.foreach { case (_, serve) => serve() } // warm the session
    val got = serves.map { case (name, serve) => name -> sparkJobs(serve()) }
    val want = Seq("term" -> 4, "query_string" -> 9, "prefix" -> 5,
      "agg_mad" -> 15, "agg_percentiles" -> 9, "agg_sigterms" -> 9)
    assert(got == want)
  }

  // The dictionary-band serves read every segment's band of the terms
  // table in one union job, with no exchange under the per-band limits.
  test("Spark jobs per dictionary-band serve on a two-segment index") {
    val root = twoSegmentIndex(positions = true)
    val serves: Seq[(String, () => Unit)] = Seq(
      "regexp" -> (() =>
        TextAnalysis.bm25ServeRegexpTopK(spark, root, "row1.", 10).collect()),
      "near_prefix" -> (() =>
        TextAnalysis.nearServePrefixCount(spark, root, "row1", "sort", 2)
          .collect()))
    serves.foreach { case (_, serve) => serve() } // warm the session
    val got = serves.map { case (name, serve) => name -> sparkJobs(serve()) }
    val want = Seq("regexp" -> 5, "near_prefix" -> 6)
    assert(got == want)
  }

  test("as-of serve reads the retained version's tombstones and statistics") {
    val docs = corpus().select("doc_id", "text")
    val root = Files.createTempDirectory("bm25asof").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 4)
    TextAnalysis.deleteBm25Docs(spark, root, Seq(5L))
    val deleted = graft.sinks.Versioned.currentVersion(spark, root)
    TextAnalysis.compactBm25Index(spark, root, nBuckets = 4)
    assert(graft.sinks.Versioned.currentVersion(spark, root) != deleted)
    def rows(df: DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val q = "rare table"
    // the delete version masks doc 5 but still scores with the statistics
    // it was built with (N, Σlen and df count doc 5)
    val stale = rows(TextAnalysis.bm25TopK(docs, "doc_id", "text", q, 100))
      .filter(_._1 != 5L).take(10)
    assert(rows(TextAnalysis.bm25ServeTopK(spark, root, q, 10,
      asOf = deleted)) == stale)
    // no asOf: the compacted version, exact statistics over the survivors
    val exact = rows(TextAnalysis.bm25TopK(docs.filter(col("doc_id") =!= 5L),
      "doc_id", "text", q, 10))
    assert(rows(TextAnalysis.bm25ServeTopK(spark, root, q, 10)) == exact)
    assert(stale != exact, "the two versions must score differently")
  }

  test("a segment whose terms table lost its stats row fails every dictionary probe") {
    import graft.sinks.MergeTable
    val root = twoSegmentIndex()
    val seg = new java.io.File(s"$root/segs").listFiles.map(_.getName).sorted.head
    val tRoot = s"$root/segs/$seg/terms"
    MergeTable.publishRange(MergeTable.read(spark, tRoot)
      .filter(col("tok") =!= TextAnalysis.Bm25StatsKey), tRoot, "tok", nParts = 1)
    intercept[IllegalArgumentException](
      TextAnalysis.bm25ServeTopK(spark, root, "rare table", 10).collect())
    intercept[IllegalArgumentException](
      TextAnalysis.bm25SignificantTerms(spark, root, "rare", corpus(),
        "doc_id", "text", 10).collect())
  }
}
