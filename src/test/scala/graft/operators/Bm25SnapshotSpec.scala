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

  private def corpus() = Bm25SnapshotSpec.corpus(spark)
  private def twoSegmentIndex(positions: Boolean = false): String =
    Bm25SnapshotSpec.twoSegmentIndex(spark, positions)

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

  // The serves that share the BM25 scoring kernel (weight, top-k cut,
  // empty result, hits join), pinned so a rewrite of the kernel cannot
  // add a job anywhere.
  test("Spark jobs per scoring-kernel serve on a two-segment index") {
    val root = twoSegmentIndex()
    val posRoot = twoSegmentIndex(positions = true)
    val serves = Bm25SnapshotSpec.kernelServes(spark, root, posRoot)
    serves.foreach { case (_, serve) => serve().collect() } // warm the session
    val got = serves.map { case (name, serve) =>
      name -> sparkJobs(serve().collect()) }
    val want = Bm25SnapshotSpec.KernelServeJobs
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

object Bm25SnapshotSpec {
  def corpus(spark: org.apache.spark.sql.SparkSession): DataFrame = {
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
  def twoSegmentIndex(spark: org.apache.spark.sql.SparkSession,
      positions: Boolean = false): String = {
    val docs = corpus(spark)
    val root = Files.createTempDirectory("bm25snap").toString
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", root, nBuckets = 4, positions = positions,
      docValueCols = Seq("n_chars"))
    TextAnalysis.appendBm25Segment(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", root, nBuckets = 4)
    TextAnalysis.deleteBm25Docs(spark, root, Seq(5L, 12L))
    root
  }

  /** One frame builder per serve of the BM25 scoring kernel: `root` is a
    * [[twoSegmentIndex]], `posRoot` its positional twin (span, intervals
    * and phrase serves). */
  def kernelServes(spark: org.apache.spark.sql.SparkSession, root: String,
      posRoot: String): Seq[(String, () => DataFrame)] = {
    import TextAnalysis._
    Seq(
      "term" -> (() => bm25ServeTopK(spark, root, "rare table", 10)),
      "and" -> (() => bm25ServeTopKAnd(spark, root, "common rare", 10)),
      "not" -> (() => bm25ServeTopKNot(spark, root, "rare table", "row15", 10)),
      "msm" -> (() => bm25ServeTopKMsm(spark, root, "rare data row10", 2, 10)),
      "dismax" -> (() => bm25ServeTopKDisMax(spark, root, "rare data", 10)),
      "after" -> (() => bm25ServeTopKAfter(spark, root, "rare data", 5,
        Some((40000L, 10L)))),
      "bool" -> (() => bm25ServeTopKBool(spark, root, "table", "rare",
        "row7", 10)),
      "terms_set" -> (() => bm25TermsSetTopK(spark, root, "rare data row10",
        "1 + n_chars % 2", 10)),
      "boosting" -> (() => bm25BoostingTopK(spark, root, "rare table",
        "filler", 500L, 10)),
      "synonyms" -> (() => bm25ServeTopKSynonyms(spark, root, "rare",
        Map("rare" -> Seq("sort")), 10)),
      "prefix" -> (() => bm25ServePrefixTopK(spark, root, "row1", 10)),
      "filtered" -> (() => bm25ServeTopKFiltered(spark, root, "rare table",
        "n_chars > 40", 10)),
      "multi_field" -> (() => bm25MultiFieldTopK(spark,
        Seq(root -> 1000L, posRoot -> 2000L), "rare table", 10)),
      "cross_fields" -> (() => bm25CrossFieldsTopK(spark,
        Seq(root -> 1000L, posRoot -> 2000L), "rare table", 10)),
      "maxscore" -> (() => bm25ServeTopKMaxScore(spark, root,
        "rare table common", 10)),
      "batch" -> (() => bm25BatchTopK(spark, root,
        Seq(1L -> "rare table", 2L -> "row7 data"), 10)),
      "explain" -> (() => bm25Explain(spark, root, "rare table", 10L)),
      "query_string" -> (() => queryStringTopK(spark, root,
        "+table rare -row7", 10)),
      "match_bool_prefix" -> (() => bm25MatchBoolPrefixTopK(spark, root,
        "rare row1", 10)),
      "span_first" -> (() => bm25SpanFirstTopK(spark, posRoot, "rare", 5, 10)),
      "span_not" -> (() => bm25SpanNotTopK(spark, posRoot, "rare", "sort",
        1, 10)),
      "span_or" -> (() => bm25SpanOrTopK(spark, posRoot, Seq("rare", "row7"),
        10)),
      "intervals" -> (() => bm25IntervalsTopK(spark, posRoot,
        Seq("table", "row7"), ordered = true, maxGaps = 1, 10)),
      "phrase" -> (() => bm25ServePhraseTopK(spark, posRoot, "data table", 10)),
      "sloppy_phrase" -> (() => bm25ServeSloppyPhraseTopK(spark, posRoot,
        "data", "row7", 2, 10)),
      "phrase_prefix" -> (() => bm25ServePhrasePrefixTopK(spark, posRoot,
        "table row1", 10)),
      "query_string_phrase" -> (() => queryStringPhraseTopK(spark, posRoot,
        "\"data table\" rare", 10)),
      "agg_range" -> (() => bm25RangeAgg(spark, root, "rare data", "n_chars",
        Seq(40L, 60L))),
      "agg_histogram" -> (() => bm25HistogramAgg(spark, root, "rare data",
        "n_chars", 10L)),
      "agg_stats" -> (() => bm25StatsAgg(spark, root, "rare data", "n_chars")),
      "agg_extended_stats" -> (() => bm25ExtendedStatsAgg(spark, root,
        "rare data", "n_chars")),
      "agg_cardinality" -> (() => bm25CardinalityAgg(spark, root,
        "rare data", "n_chars")),
      "agg_top_metrics" -> (() => bm25TopMetricsAgg(spark, root, "rare data",
        "n_chars", Seq("n_chars"), 3)),
      "agg_weighted_avg" -> (() => bm25WeightedAvgAgg(spark, root,
        "rare data", "n_chars", "1")),
      "agg_boxplot" -> (() => bm25BoxplotAgg(spark, root, "rare data",
        "n_chars")),
      "agg_multi_terms" -> (() => bm25MultiTermsAgg(spark, root, "rare data",
        Seq("a" -> "n_chars % 3", "b" -> "n_chars % 2"), 5)),
      "agg_rare_terms" -> (() => bm25RareTermsAgg(spark, root, "rare data",
        "n_chars % 5", 20L)),
      "agg_composite" -> (() => bm25CompositeAgg(spark, root, "rare data",
        Seq("n_chars"), 5)),
      "agg_terms_by_metric" -> (() => bm25TermsByMetricAgg(spark, root,
        "rare data", "n_chars", "n_chars", 5)),
      "agg_bucket_script" -> (() => bm25BucketScriptAgg(spark, root,
        "rare data", "n_chars", 10L, "sum_v div n_docs")),
      "function_score" -> (() => bm25FunctionScoreTopK(spark, root,
        "rare table", "1000 + n_chars", 10)),
      "top_hits" -> (() => bm25TopHitsAgg(spark, root, "rare table",
        "n_chars", 1)))
  }

  /** Spark jobs per [[kernelServes]] serve, warm session. */
  val KernelServeJobs: Seq[(String, Int)] = Seq("term" -> 4, "and" -> 6,
    "not" -> 6, "msm" -> 5, "dismax" -> 5, "after" -> 5, "bool" -> 8,
    "terms_set" -> 6, "boosting" -> 6, "synonyms" -> 6, "prefix" -> 5,
    "filtered" -> 5, "multi_field" -> 6, "cross_fields" -> 6,
    "maxscore" -> 5, "batch" -> 7, "explain" -> 6, "query_string" -> 9,
    "match_bool_prefix" -> 6, "span_first" -> 2, "span_not" -> 3,
    "span_or" -> 3, "intervals" -> 3, "phrase" -> 3, "sloppy_phrase" -> 3,
    "phrase_prefix" -> 4, "query_string_phrase" -> 7, "agg_range" -> 6,
    "agg_histogram" -> 6, "agg_stats" -> 4, "agg_extended_stats" -> 4,
    "agg_cardinality" -> 5, "agg_top_metrics" -> 3, "agg_weighted_avg" -> 4,
    "agg_boxplot" -> 9, "agg_multi_terms" -> 4, "agg_rare_terms" -> 6,
    "agg_composite" -> 4, "agg_terms_by_metric" -> 5,
    "agg_bucket_script" -> 6, "function_score" -> 5, "top_hits" -> 8)
}
