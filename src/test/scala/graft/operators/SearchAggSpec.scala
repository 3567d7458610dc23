package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/**
 * The ES aggregation family over the match set (range / histogram /
 * stats / top_hits / significant_terms) and the did-you-mean suggester
 * — semantics on a hand-built corpus where every bucket and count is
 * checkable by eye.
 */
class SearchAggSpec extends AnyFunSuite with SparkTestBase {

  // text ∋ 'hit' marks the match set; n_chars chosen to straddle the
  // 200/400 cuts; langs two buckets
  private def corpus(): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "hit alpha beta", "en", 100L),
      (2L, "hit alpha", "en", 250L),
      (3L, "hit gamma gamma", "de", 450L),
      (4L, "miss gamma", "de", 300L), // not matched
      (5L, "hit beta", "de", 199L)
    ).toDF("doc_id", "text", "lang", "n_chars")
  }

  private def build(): String = {
    val root = Files.createTempDirectory("agg_idx").toString
    TextAnalysis.writeBm25Index(corpus(), "doc_id", "text", root,
      nBuckets = 4, docValueCols = Seq("lang", "n_chars"))
    root
  }

  // corpus with a created_ts docval straddling calendar boundaries:
  // a leap-February, a Friday/Saturday pair sharing an ISO week across
  // the Jan/Feb boundary, and a Sunday that belongs to February's week
  private def buildTs(): String = {
    import java.time.Instant
    import spark.implicits._
    val root = Files.createTempDirectory("agg_ts_idx").toString
    val docs = Seq(
      (1L, "hit alpha", Instant.parse("2020-01-31T12:00:00Z")), // Fri
      (2L, "hit beta", Instant.parse("2020-02-01T00:00:00Z")), // Sat
      (3L, "hit gamma", Instant.parse("2020-02-29T23:59:59Z")), // leap Sat
      (4L, "miss gamma", Instant.parse("2020-02-15T00:00:00Z")),
      (5L, "hit delta", Instant.parse("2020-03-01T08:00:00Z")) // Sun
    ).toDF("doc_id", "text", "created_ts")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root,
      nBuckets = 4, docValueCols = Seq("created_ts"))
    root
  }

  test("date_histogram month: calendar boundaries (leap February), keys = bucket-start epoch millis") {
    val root = buildTs()
    val got = TextAnalysis.bm25DateHistogramAgg(spark, root, "hit",
      "created_ts", "month").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Jan: doc 1; Feb: docs 2 + 3 (Feb 29 IS February — leap year);
    // Mar: doc 5; doc 4 unmatched. Only non-empty buckets emit.
    assert(got == Map(
      1577836800000L -> 1L, // 2020-01-01
      1580515200000L -> 2L, // 2020-02-01
      1583020800000L -> 1L)) // 2020-03-01
  }

  test("date_histogram week: ISO Monday anchor groups across month boundaries") {
    val root = buildTs()
    val got = TextAnalysis.bm25DateHistogramAgg(spark, root, "hit",
      "created_ts", "week").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Fri Jan 31 + Sat Feb 1 share the week of Mon Jan 27; Sat Feb 29 +
    // Sun Mar 1 share the week of Mon Feb 24 — the boundaries a fixed
    // interval cannot express (weeks don't align to epoch)
    assert(got == Map(
      1580083200000L -> 2L, // 2020-01-27
      1582502400000L -> 2L)) // 2020-02-24
    // and an unknown interval refuses loudly
    assertThrows[IllegalArgumentException](
      TextAnalysis.bm25DateHistogramAgg(spark, root, "hit",
        "created_ts", "fortnight"))
  }

  test("date_histogram contract params: offset shifts boundaries, time_zone walls the clock, extended_bounds zero-fills") {
    val root = buildTs()
    def hist(iv: String, tz: String = "UTC", off: Long = 0L,
        bounds: Option[(Long, Long)] = None): Seq[(Long, Long)] =
      TextAnalysis.bm25DateHistogramAgg(spark, root, "hit",
        "created_ts", iv, timeZone = tz, offsetMillis = off,
        extendedBounds = bounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // offset +6h, day: buckets run 06:00→06:00 — Fri 12:00Z and Sat
    // 00:00Z now SHARE the Jan-31-06:00 bucket
    assert(hist("day", off = 21600000L) == Seq(
      (1580450400000L, 2L), // 2020-01-31T06:00Z
      (1582956000000L, 1L), // 2020-02-29T06:00Z
      (1583042400000L, 1L))) // 2020-03-01T06:00Z
    // time_zone America/New_York, day: Sat 00:00Z is Fri 19:00 wall —
    // the same two docs share Jan 31; keys are the 05:00Z instants
    assert(hist("day", tz = "America/New_York") == Seq(
      (1580446800000L, 2L), // 2020-01-31T00:00-05:00
      (1582952400000L, 1L), // 2020-02-29
      (1583038800000L, 1L))) // 2020-03-01
    // extended_bounds zero-fill: Dec 2019 and Apr/May 2020 shoulders
    // emit with n_docs = 0 around the Jan/Feb/Mar data
    assert(hist("month",
      bounds = Some((1577232000000L, 1588636800000L))) == Seq(
      (1575158400000L, 0L), (1577836800000L, 1L), (1580515200000L, 2L),
      (1583020800000L, 1L), (1585699200000L, 0L), (1588291200000L, 0L)))
    // data OUTSIDE the bounds still emits (bounds extend, never clip)
    assert(hist("month",
      bounds = Some((1585699200000L, 1588636800000L))) == Seq(
      (1577836800000L, 1L), (1580515200000L, 2L), (1583020800000L, 1L),
      (1585699200000L, 0L), (1588291200000L, 0L)))
    assertThrows[IllegalArgumentException](hist("day", tz = "Mars/Olympus"))
    assertThrows[IllegalArgumentException](
      hist("minute", bounds = Some((0L, 9999999999999L))))
  }

  test("date_histogram keys are SESSION-independent: a non-UTC session reproduces the UTC session's buckets") {
    val root = buildTs()
    def run(): Seq[(Long, Long)] =
      TextAnalysis.bm25DateHistogramAgg(spark, root, "hit",
        "created_ts", "day", timeZone = "UTC",
        extendedBounds = Some((1580428800000L, 1583107200000L)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val underUtc = run()
    // a library caller's session is NOT the driver's pinned UTC —
    // date_trunc walls in the session zone, so without the in-plan
    // re-expression every key would shift by the session offset and
    // the driver-enumerated zero-fill keys would interleave misaligned
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try assert(run() == underUtc,
      "bucket keys moved with the session timezone")
    finally spark.conf.set("spark.sql.session.timeZone", prev)
    // sanity: the UTC-session run has the data buckets + zero fill
    assert(underUtc.exists(_._2 > 0) && underUtc.exists(_._2 == 0))
  }

  test("date_histogram DST fall-back: the ambiguous wall hour resolves to the EARLIER offset") {
    import java.time.Instant
    import spark.implicits._
    // America/New_York 2020-11-01: 01:30 wall occurs at 05:30Z (EDT)
    // and 06:30Z (EST) — two instants an hour apart, one wall bucket
    val root = Files.createTempDirectory("agg_dst_idx").toString
    val docs = Seq(
      (1L, "hit edt", Instant.parse("2020-11-01T05:30:00Z")),
      (2L, "hit est", Instant.parse("2020-11-01T06:30:00Z")))
      .toDF("doc_id", "text", "created_ts")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root,
      nBuckets = 2, docValueCols = Seq("created_ts"))
    val hour = TextAnalysis.bm25DateHistogramAgg(spark, root, "hit",
      "created_ts", "hour", timeZone = "America/New_York")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // both wall to 01:00; the key instant takes the earlier (EDT)
    // offset: 2020-11-01T01:00-04:00 = 05:00Z
    assert(hour == Seq((1604206800000L, 2L)))
    // day bucket likewise anchors at 00:00 EDT = 04:00Z
    val day = TextAnalysis.bm25DateHistogramAgg(spark, root, "hit",
      "created_ts", "day", timeZone = "America/New_York")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(day == Seq((1604203200000L, 2L)))
  }

  test("auto_date_histogram: the finest interval under the target wins; choice moves with the target") {
    val root = buildTs()
    def run(target: Int): (Set[String], Seq[(Long, Long)]) = {
      val rows = TextAnalysis.bm25AutoDateHistogramAgg(spark, root,
        "hit", "created_ts", target).collect()
      (rows.map(_.getString(0)).toSet,
        rows.map(r => (r.getLong(1), r.getLong(2))).toSeq)
    }
    // 4 distinct timestamps: minute/hour/day all give 4 buckets,
    // week gives 2, quarter 1 — the ladder picks the finest fit
    val (iv10, h10) = run(10)
    assert(iv10 == Set("minute") && h10.length == 4
      && h10.forall(_._2 == 1L))
    val (iv3, h3) = run(3)
    assert(iv3 == Set("week"))
    assert(h3 == Seq((1580083200000L, 2L), (1582502400000L, 2L)))
    val (iv1, h1) = run(1)
    assert(iv1 == Set("quarter") && h1 == Seq((1577836800000L, 4L)))
    // no matches → empty frame, no choice to make
    assert(TextAnalysis.bm25AutoDateHistogramAgg(spark, root,
      "zzznomatch", "created_ts", 5).count() == 0L)
  }

  test("extended_stats: integer variance/std; stats_bucket summarizes the histogram") {
    val root = build()
    // matched n_chars {100, 250, 450, 199}: n=4 s=999 ss=314601,
    // varNum = 4·314601 − 999² = 260403 → var_1000 = ⌊260403000/16⌋,
    // std_1000 = isqrt(⌊260403·10⁶/16⌋)
    val es = TextAnalysis.bm25ExtendedStatsAgg(spark, root, "hit",
      "n_chars").head()
    assert((es.getLong(0), es.getLong(1), es.getLong(2), es.getLong(3),
      es.getLong(4), es.getLong(5), es.getLong(6), es.getLong(7))
      == ((4L, 999L, 100L, 450L, 249750L, 314601L, 16275187L, 127574L)))
    // interval-100 buckets: 100 -> 2 docs, 200 -> 1, 400 -> 1;
    // min_bucket = smallest key at the min count (tie 200 vs 400 ->
    // 200), max_bucket = 100
    val sb = TextAnalysis.bm25BucketStatsAgg(spark, root, "hit",
      "n_chars", 100L).head()
    assert((sb.getLong(0), sb.getLong(1), sb.getLong(2), sb.getLong(3),
      sb.getLong(4), sb.getLong(5), sb.getLong(6))
      == ((3L, 1L, 2L, 4L, 1333L, 200L, 100L)))
    assert(TextAnalysis.bm25ExtendedStatsAgg(spark, root, "zzznomatch",
      "n_chars").count() == 0L)
  }

  test("boxplot and MAD: exact nearest-rank quartiles and the robust dispersion") {
    val root = build()
    // matched n_chars sorted: 100, 199, 250, 450 (n=4): ranks
    // q1=⌈1⌉=1, median=⌈2⌉=2, q3=⌈3⌉=3
    val bp = TextAnalysis.bm25BoxplotAgg(spark, root, "hit", "n_chars")
      .head()
    assert((bp.getLong(0), bp.getLong(1), bp.getLong(2), bp.getLong(3),
      bp.getLong(4)) == ((100L, 100L, 199L, 250L, 450L)))
    // median 199; deviations {99, 0, 51, 251} sorted → rank-2 = 51
    val mad = TextAnalysis.bm25MadAgg(spark, root, "hit", "n_chars")
      .head()
    assert((mad.getLong(0), mad.getLong(1)) == ((199L, 51L)))
    // empty match → empty rows, not a crash
    assert(TextAnalysis.bm25BoxplotAgg(spark, root, "zzznomatch",
      "n_chars").count() == 0L)
    assert(TextAnalysis.bm25MadAgg(spark, root, "zzznomatch",
      "n_chars").count() == 0L)
  }

  test("diversified_sampler caps per-key docs; terms_by_metric orders buckets by the sub-agg") {
    val root = build()
    // max 1 per lang, top-2 overall → exactly one en + one de doc
    val div = TextAnalysis.bm25DiversifiedSamplerAgg(spark, root,
      "hit alpha", "lang", shardSize = 2, maxPerValue = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(div == Map("en" -> 1L, "de" -> 1L))
    // an uncapped sample of the same size would NOT be diversified:
    // the top-2 by score alone can share a lang — pin the contrast
    val plain = TextAnalysis.bm25SamplerTermsAgg(spark, root,
      "hit alpha", "lang", shardSize = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain.values.sum == 2L)
    // terms by metric: avg n_chars — de (324500) outranks en (175000)
    val tbm = TextAnalysis.bm25TermsByMetricAgg(spark, root, "hit",
      "lang", "n_chars", k = 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(tbm == Seq(("de", 2L, 324500L), ("en", 2L, 175000L)))
    assert(TextAnalysis.bm25TermsByMetricAgg(spark, root, "hit",
      "lang", "n_chars", k = 1).collect().map(_.getString(0)).toSeq
      == Seq("de"))
  }

  test("sampler: the facet counts only the shard_size best-scoring matches") {
    val root = build()
    // 'hit alpha' serve order: the sample cut changes the facet where
    // the full match set would not — shard_size 2 keeps only the two
    // best docs; the full-set facet (shard_size >= matches) equals
    // the plain facet counts
    val top2 = TextAnalysis.bm25ServeTopK(spark, root, "hit alpha", 2)
      .collect().map(_.getLong(0)).toSet
    val byLang = Map(1L -> "en", 2L -> "en", 3L -> "de", 5L -> "de")
    val want = top2.toSeq.map(byLang).groupBy(identity)
      .map { case (l, xs) => l -> xs.size.toLong }
    val got = TextAnalysis.bm25SamplerTermsAgg(spark, root, "hit alpha",
      "lang", shardSize = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    val full = TextAnalysis.bm25SamplerTermsAgg(spark, root, "hit alpha",
      "lang", shardSize = 100).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(full == Map("en" -> 2L, "de" -> 2L))
  }

  test("weighted_avg and top_metrics over the match set's docvals") {
    val root = build()
    // matched: 1(en,100) 2(en,250) 3(de,450) 5(de,199); en weighs 3:
    // Σ v·w = 100·3 + 250·3 + 450·1 + 199·1 = 1699; Σw = 8
    // → ⌊1699·1000/8⌋ = 212375
    assert(TextAnalysis.bm25WeightedAvgAgg(spark, root, "hit",
      "n_chars", "CASE WHEN lang = 'en' THEN 3 ELSE 1 END")
      .head().getLong(0) == 212375L)
    // degenerate: weight 1 == stats avg_1000
    assert(TextAnalysis.bm25WeightedAvgAgg(spark, root, "hit",
      "n_chars", "1").head().getLong(0)
      == TextAnalysis.bm25StatsAgg(spark, root, "hit", "n_chars")
        .head().getAs[Long]("avg_1000"))
    val tm = TextAnalysis.bm25TopMetricsAgg(spark, root, "hit",
      "n_chars", Seq("lang"), k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(tm == Seq((3L, 450L, "de"), (2L, 250L, "en")))
  }

  test("moving_fn: window excludes the current bucket; leading edge NULL (ES shift=0)") {
    val root = buildTs()
    def run(fn: String): Seq[(Long, Long, Option[Long])] =
      TextAnalysis.bm25DateHistogramMovingFn(spark, root, "hit",
        "created_ts", "month", window = 2, fn = fn).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    // month hist: Jan 1, Feb 2, Mar 1
    assert(run("sum") == Seq(
      (1577836800000L, 1L, None), // empty window -> NULL, not 0
      (1580515200000L, 2L, Some(1L)), // {Jan}
      (1583020800000L, 1L, Some(3L)))) // {Jan, Feb} — Mar itself excluded
    assert(run("avg1000").map(_._3) == Seq(None, Some(1000L), Some(1500L)))
    assert(run("min").map(_._3) == Seq(None, Some(1L), Some(1L)))
    assert(run("max").map(_._3) == Seq(None, Some(1L), Some(2L)))
    assertThrows[IllegalArgumentException](run("median"))
  }

  test("percentile_ranks: exact per-mille fraction at or under each probe; empty match ranks 0") {
    val root = build()
    // matched n_chars {100, 250, 450, 199}: ≤100 → 1/4, ≤250 → 3/4,
    // ≤500 → 4/4 (and an off-distribution probe between values)
    val got = TextAnalysis.bm25PercentileRanksAgg(spark, root, "hit",
      "n_chars", Seq(100L, 250L, 500L, 150L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((100L, 250L), (150L, 250L), (250L, 750L),
      (500L, 1000L)))
    // no matches → every probe ranks 0 (not a division crash)
    assert(TextAnalysis.bm25PercentileRanksAgg(spark, root,
      "zzznomatch", "n_chars", Seq(100L)).collect()
      .map(_.getLong(1)).toSeq == Seq(0L))
  }

  test("date_range agg: uneven from-inclusive/to-exclusive cuts over the timestamp docval") {
    val root = buildTs()
    // one cut at Feb 1 2020: doc 1 (Jan 31) below, docs 2 (Feb 1
    // 00:00 — from-INCLUSIVE), 3 (Feb 29), 5 (Mar 1) at-or-above
    val got = TextAnalysis.bm25DateRangeAgg(spark, root, "hit",
      "created_ts", Seq(1580515200000L)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("*-1580515200000" -> 1L, "1580515200000-*" -> 3L))
    assertThrows[IllegalArgumentException](
      TextAnalysis.bm25DateRangeAgg(spark, root, "hit", "created_ts",
        Seq(2L, 1L)))
  }

  test("multi_terms agg: compound buckets by (count desc, key tuple); rare_terms keeps only the tail") {
    val root = build()
    // matched docs 1(en,100) 2(en,250) 3(de,450) 5(de,199) — all four
    // (lang, n_chars div 100) tuples distinct, count 1 each, so the
    // ES default order is the key tuple ascending
    val mt = TextAnalysis.bm25MultiTermsAgg(spark, root, "hit",
      Seq(("lang", "lang"), ("size_class", "n_chars div 100")), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(mt == Seq(("de", 1L, 1L), ("de", 4L, 1L), ("en", 1L, 1L)))
    // one source refuses (that's the plain terms agg)
    assertThrows[IllegalArgumentException](
      TextAnalysis.bm25MultiTermsAgg(spark, root, "hit",
        Seq(("lang", "lang")), k = 3))
    // rare_terms: size-class 1 holds docs {1, 5} (count 2) and falls
    // OUT at max_doc_count=1; classes 2 and 4 (count 1) survive
    val rare = TextAnalysis.bm25RareTermsAgg(spark, root, "hit",
      "n_chars div 100", maxDocCount = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rare == Seq((2L, 1L), (4L, 1L)))
    // raising the cap admits the class-1 bucket, count order holds
    val rare2 = TextAnalysis.bm25RareTermsAgg(spark, root, "hit",
      "n_chars div 100", maxDocCount = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rare2 == Seq((2L, 1L), (4L, 1L), (1L, 2L)))
  }

  test("bucket_script / bucket_selector: integer scripts and the aggregation HAVING over bucket metrics") {
    val root = build()
    // matched docs 1(100) 2(250) 3(450) 5(199); interval-100 buckets:
    // 100 -> {1,5}, 200 -> {2}, 400 -> {3}
    val script = TextAnalysis.bm25BucketScriptAgg(spark, root, "hit",
      "n_chars", 100L, "(sum_v * 1000) div n_docs").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(script == Seq((100L, 2L, 149500L), (200L, 1L, 250000L),
      (400L, 1L, 450000L)))
    val sel = TextAnalysis.bm25BucketSelectorAgg(spark, root, "hit",
      "n_chars", 100L, "n_docs >= 2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(sel == Seq((100L, 2L, 299L, 100L, 199L)))
    // a predicate over a metric that never holds empties the response
    assert(TextAnalysis.bm25BucketSelectorAgg(spark, root, "hit",
      "n_chars", 100L, "min_v < 0").count() == 0L)
  }

  test("serial_diff: value minus value[t-lag] over emitted buckets, NULL first lag rows") {
    val root = buildTs()
    def run(lagN: Int): Seq[(Long, Long, Option[Long])] =
      TextAnalysis.bm25DateHistogramSerialDiff(spark, root, "hit",
        "created_ts", "month", lagN).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    // month hist: Jan 1, Feb 2, Mar 1
    assert(run(1).map(_._3) == Seq(None, Some(1L), Some(-1L)))
    assert(run(2).map(_._3) == Seq(None, None, Some(0L)))
    assertThrows[IllegalArgumentException](run(0))
  }

  test("range agg buckets from-inclusive/to-exclusive with ES keys") {
    val root = build()
    val got = TextAnalysis.bm25RangeAgg(spark, root, "hit", "n_chars",
      Seq(200L, 400L)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("*-200" -> 2L, "200-400" -> 1L, "400-*" -> 1L))
  }

  test("histogram agg keys by the inclusive lower bound") {
    val root = build()
    val got = TextAnalysis.bm25HistogramAgg(spark, root, "hit", "n_chars",
      100L).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(100L -> 2L, 200L -> 1L, 400L -> 1L))
  }

  test("histogram agg floors negative values (ADVICE r17)") {
    import spark.implicits._
    // value −3 at interval 10 belongs to bucket −10 (ES floorDiv key
    // contract) — truncate-toward-zero would misfile it in bucket 0
    val root = Files.createTempDirectory("agg_idx_neg").toString
    TextAnalysis.writeBm25Index(Seq(
      (1L, "hit up", 17L), (2L, "hit down", -3L),
      (3L, "hit deep", -27L), (4L, "hit zero", 0L))
      .toDF("doc_id", "text", "delta"), "doc_id", "text", root,
      nBuckets = 4, docValueCols = Seq("delta"))
    val got = TextAnalysis.bm25HistogramAgg(spark, root, "hit", "delta",
      10L).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L, -10L -> 1L, -30L -> 1L, 0L -> 1L))
  }

  test("stats agg is one integer row over matched docs only") {
    val root = build()
    val r = TextAnalysis.bm25StatsAgg(spark, root, "hit", "n_chars")
      .collect().head
    assert(r.getAs[Long]("n_docs") == 4L)
    assert(r.getAs[Long]("sum_v") == 999L)
    assert(r.getAs[Long]("min_v") == 100L)
    assert(r.getAs[Long]("max_v") == 450L)
    assert(r.getAs[Long]("avg_1000") == 999L * 1000L / 4L)
  }

  test("histogram pipeline: cumulative_sum runs, derivative steps over emitted buckets") {
    val root = build()
    val got = TextAnalysis.bm25HistogramPipelineAgg(spark, root, "hit",
      "n_chars", 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    // matched buckets: 100→2 (docs 1@100, 5@199), 200→1, 400→1
    assert(got.toSeq == Seq(
      (100L, 2L, 2L, None),
      (200L, 1L, 3L, Some(-1L)),
      (400L, 1L, 4L, Some(0L)))) // 400 steps from the EMITTED 200 bucket
  }

  test("explain: per-term contributions sum to the serve's exact score") {
    val root = build()
    val scores = TextAnalysis.bm25ServeTopK(spark, root, "hit alpha", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    scores.keys.foreach { id =>
      val rows = TextAnalysis.bm25Explain(spark, root, "hit alpha", id)
        .collect()
      assert(rows.map(_.getAs[Long]("contrib")).sum == scores(id),
        s"doc $id explain does not reconcile")
      rows.foreach { r => // every factor self-consistent
        assert(r.getAs[Long]("contrib")
          == r.getAs[Long]("idf") * r.getAs[Long]("w"))
      }
    }
    // doc 4 never matches 'hit alpha'... it matches nothing: gamma only
    assert(TextAnalysis.bm25Explain(spark, root, "hit alpha", 4L)
      .count() == 0L)
    // a tombstoned doc refuses to explain (it has no score)
    TextAnalysis.deleteBm25Docs(spark, root, Seq(2L))
    assertThrows[IllegalArgumentException](
      TextAnalysis.bm25Explain(spark, root, "hit alpha", 2L).collect())
  }

  test("adjacency_matrix: diagonal + pairwise intersections, zero cells dropped") {
    val root = build()
    val got = TextAnalysis.bm25AdjacencyMatrixAgg(spark, root, "hit", Seq(
      ("de_docs", "lang = 'de'"),
      ("long", "n_chars >= 200"),
      ("neg", "n_chars < 0")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // matched: 1(en,100) 2(en,250) 3(de,450) 5(de,199)
    // de_docs={3,5} long={2,3} de&long={3}; every 'neg' cell is 0 → gone
    assert(got == Map("de_docs" -> 2L, "long" -> 2L, "de_docs&long" -> 1L))
  }

  test("cardinality agg: exact distinct values over the matched docs only") {
    val root = build()
    // matched docs 1,2,3,5 carry n_chars 100,250,450,199 → 4 distinct;
    // doc 4 (unmatched, 300) must not count
    assert(TextAnalysis.bm25CardinalityAgg(spark, root, "hit", "n_chars")
      .head().getLong(0) == 4L)
    assert(TextAnalysis.bm25CardinalityAgg(spark, root, "hit", "lang")
      .head().getLong(0) == 2L)
  }

  test("filters agg: overlapping named buckets; empty buckets emitted as 0") {
    val root = build()
    val got = TextAnalysis.bm25FiltersAgg(spark, root, "hit", Seq(
      ("de_docs", "lang = 'de'"),
      ("long", "n_chars >= 200"),
      ("never", "n_chars < 0")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // matched: 1(en,100) 2(en,250) 3(de,450) 5(de,199); buckets overlap
    // (doc 3 is in both de_docs and long), 'never' emits 0
    assert(got == Map("de_docs" -> 2L, "long" -> 2L, "never" -> 0L))
  }

  test("composite agg: after-cursor pages concatenate to the one-shot bucket list") {
    val root = build()
    val all = TextAnalysis.bm25CompositeAgg(spark, root, "hit",
      Seq("lang", "n_chars"), size = 100)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(all.length == 4) // 4 matched docs, distinct (lang, n_chars)
    // page through with size 1: every page returns exactly the next
    // bucket in (lang, n_chars) order, and the concat equals one-shot
    var after: Option[Seq[Any]] = None
    val paged = (1 to 5).flatMap { _ =>
      val page = TextAnalysis.bm25CompositeAgg(spark, root, "hit",
        Seq("lang", "n_chars"), size = 1, after = after)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      page.lastOption.foreach(p => after = Some(Seq(p._1, p._2)))
      page
    }
    assert(paged == all.toSeq)
  }

  test("collapse: one best hit per key, groups ranked by their top hit, inner hits attached") {
    val root = build()
    val got = TextAnalysis.bm25CollapseTopK(spark, root, "hit alpha",
      "lang", k = 2, innerK = 2).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    val scores = TextAnalysis.bm25ServeTopK(spark, root, "hit alpha", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byLang = Map(1L -> "en", 2L -> "en", 3L -> "de", 5L -> "de")
    // hand-collapse: per lang the best (score desc, id) doc, then inner-2
    val want = byLang.groupBy(_._2).map { case (lang, ds) =>
      val inner = ds.keys.toSeq
        .sortBy(id => (-scores(id), id)).take(2).zipWithIndex
      lang -> inner
    }
    val grpOrder = want.toSeq
      .sortBy { case (_, inner) =>
        val top = inner.head._1; (-scores(top), top)
      }.map(_._1).zipWithIndex.toMap
    val expect = want.toSeq.flatMap { case (lang, inner) =>
      inner.map { case (id, i) =>
        (lang, grpOrder(lang) + 1, i + 1, id, scores(id))
      }
    }.sortBy(r => (r._2, r._3))
    assert(got.toSeq == expect)
    // k=1 group cut: only the best group remains
    val one = TextAnalysis.bm25CollapseTopK(spark, root, "hit alpha",
      "lang", k = 1, innerK = 1).collect()
    assert(one.length == 1 && one.head.getInt(1) == 1
      && one.head.getInt(2) == 1)
  }

  test("collapse empty result keeps the sidecar's key type (no schema flip)") {
    val root = build()
    val df = TextAnalysis.bm25CollapseTopK(spark, root, "zzznomatch",
      "n_chars", k = 3)
    assert(df.schema("n_chars").dataType
      == org.apache.spark.sql.types.LongType,
      s"empty collapse flipped the key type: ${df.schema}")
    assert(df.count() == 0L)
  }

  test("collapse on a high-cardinality key (one group per doc) ranks by score, non-string key type") {
    val root = build()
    // n_chars is UNIQUE per matched doc — the ES user_id/domain shape
    // the low-cardinality lang fixture hides; every doc is its own
    // group, so collapse must reproduce the plain serve order
    val got = TextAnalysis.bm25CollapseTopK(spark, root, "hit alpha",
      "n_chars", k = 3, innerK = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    val serve = TextAnalysis.bm25ServeTopK(spark, root, "hit alpha", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val chars = Map(1L -> 100L, 2L -> 250L, 3L -> 450L, 5L -> 199L)
    val expect = serve.zipWithIndex.map { case ((id, s), i) =>
      (chars(id), i + 1, 1, id, s) }
    assert(got.toSeq == expect.toSeq)
  }

  test("top_hits ranks within each facet bucket by (score desc, id)") {
    val root = build()
    val got = TextAnalysis.bm25TopHitsAgg(spark, root, "hit alpha",
      "lang", perBucket = 1).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(got.length == 2)
    assert(got.map(_._1).toSet == Set("en", "de"))
    got.foreach { case (_, rank, _) => assert(rank == 1) }
    // per-bucket winner beats the other bucket members on score
    val scores = TextAnalysis.bm25ServeTopK(spark, root, "hit alpha", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byLang = Map(1L -> "en", 2L -> "en", 3L -> "de", 5L -> "de")
    got.foreach { case (lang, _, id) =>
      byLang.filter(_._2 == lang).keys.foreach { other =>
        assert(scores(id) >= scores(other)
          || (scores(id) == scores(other) && id <= other), s"$lang winner")
      }
    }
  }

  test("significant_terms lifts match-set-only terms above background") {
    val root = build()
    val got = TextAnalysis.bm25SignificantTerms(spark, root, "hit",
      corpus(), "doc_id", "text", k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byTok = got.map(g => g._1 -> g).toMap
    // 'hit' is in every matched doc and only there: maximal lift
    assert(byTok("hit") == ("hit", 4L, 4L, 1000000L * 5L / 4L))
    // 'gamma' is mostly background (1 of 2 carriers matched): lift < 1
    assert(byTok("gamma")._4 == 1000000L * 1L * 5L / (2L * 4L))
    // ranked by lift first — 'hit' (and the equally-lifted exclusive
    // terms) come before 'gamma'
    assert(got.map(_._1).indexOf("hit") < got.map(_._1).indexOf("gamma"))
  }

  test("significant_terms bg gate: the over-cap dictionary-join plan equals the bounded readKeys plan (ADVICE r21)") {
    import spark.implicits._
    val root = build()
    val snap = TextAnalysis.Bm25Snapshot(spark, root)
    val fg = corpus()
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("fg"))
      .persist()
    try {
      def rows(df: DataFrame): Set[(String, Long)] =
        df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val bounded = rows(TextAnalysis.bm25BgCounts(snap, fg))
      // cap=1 forces the unbounded branch (fg vocab ≫ 1): the full
      // dictionary scan + semi-join must produce identical bg counts —
      // and must NOT throw the ReadKeysCap guard a raw readKeys would
      val joined = rows(TextAnalysis.bm25BgCounts(snap, fg, cap = 1))
      assert(joined == bounded, s"join=$joined bounded=$bounded")
      assert(bounded.nonEmpty)
    } finally fg.unpersist()
  }

  test("exact percentiles: nearest-rank over the match set, ties by doc id") {
    val root = build()
    // matched n_chars ascending: 100, 199, 250, 450 (n = 4)
    // p50 → rank ceil(2.0)=2 → 199; p90 → rank ceil(3.6)=4 → 450;
    // p1 → rank max(1, ceil(0.04))=1 → 100
    val got = TextAnalysis.bm25PercentilesAgg(spark, root, "hit",
      "n_chars", Seq(1, 50, 90)).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(1 -> 100L, 50 -> 199L, 90 -> 450L))
    assertThrows[IllegalArgumentException](
      TextAnalysis.bm25PercentilesAgg(spark, root, "hit", "n_chars",
        Seq(0)))
  }

  test("terms + stats sub-agg: per-bucket count and per-mille average") {
    val root = build()
    val got = TextAnalysis.bm25TermsStatsAgg(spark, root, "hit",
      "lang", "n_chars").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // en: docs 1,2 (100+250); de: docs 3,5 (450+199)
    assert(got == Map(
      "en" -> ((2L, 350L * 1000L / 2L)),
      "de" -> ((2L, 649L * 1000L / 2L))))
  }

  test("rescore: phrase lifts window docs; outside the window never enters") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hit alpha beta zzz pad"), // phrase 'alpha beta' present
      (2L, "hit beta alpha zzz pad"), // terms present, phrase absent
      (3L, "hit alpha beta zzz pad"), // phrase present (tie with 1)
      (4L, "miss only")
    ).toDF("doc_id", "text")
    val root = Files.createTempDirectory("resc_idx").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root,
      nBuckets = 4, positions = true)
    val got = TextAnalysis.bm25RescorePhrase(spark, root, "hit",
      "alpha beta", windowSize = 3, k = 3,
      queryWeight1000 = 1000L, rescoreWeight1000 = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // same base score everywhere (identical docs for 'hit'); the
    // phrase lifts 1 and 3 above 2
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 2L))
    assert(got(0)._2 == got(1)._2 && got(0)._2 > got(2)._2)
    // total = base + phrase for the lifted docs, = base for doc 2
    val base = TextAnalysis.bm25ServeTopK(spark, root, "hit", 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val phr = TextAnalysis.bm25ServePhraseTopK(spark, root,
      "alpha beta", 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0)._2 == base(1L) + phr(1L))
    assert(got(2)._2 == base(2L))
    // a windowSize below k refuses loudly
    assertThrows[IllegalArgumentException](
      TextAnalysis.bm25RescorePhrase(spark, root, "hit", "alpha beta",
        windowSize = 2, k = 3))
  }

  test("sloppy phrase: slop=0 equals the exact phrase serve; gaps weight 1/(d+1)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta pad pad pad"), // exact adjacency, d=0
      (2L, "alpha pad beta pad pad"), // d=1 → weight 500
      (3L, "alpha pad pad beta pad"), // d=2 → weight 333
      (4L, "beta alpha pad pad pad"), // reversed: no in-order pair
      (5L, "alpha pad pad pad beta") // d=3 → outside slop=2
    ).toDF("doc_id", "text")
    val root = Files.createTempDirectory("slop_idx").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root,
      nBuckets = 4, positions = true)
    // slop=0 degenerates bit-for-bit to the exact phrase serve
    val exact = TextAnalysis.bm25ServePhraseTopK(spark, root,
      "alpha beta", 10).collect().map(_.toString).toSeq
    val slop0 = TextAnalysis.bm25ServeSloppyPhraseTopK(spark, root,
      "alpha", "beta", slop = 0, k = 10).collect().map(_.toString).toSeq
    assert(slop0 == exact)
    // slop=2: docs 1..3 match with strictly decreasing scores; 4,5 out
    val got = TextAnalysis.bm25ServeSloppyPhraseTopK(spark, root,
      "alpha", "beta", slop = 2, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(got(0)._2 > got(1)._2 && got(1)._2 > got(2)._2,
      "proximity weight must decay with displacement")
  }

  test("suggest ranks the edit-1 dictionary neighborhood by df") {
    import spark.implicits._
    val docs = Seq(
      (1L, "table table cable"),
      (2L, "table fable"),
      (3L, "cable gable")
    ).toDF("doc_id", "text")
    val root = Files.createTempDirectory("sug_idx").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 4)
    val got = TextAnalysis.suggestTerms(spark, root, "tible", 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // edit-1 of 'tible': table (sub) df=2, fable/gable/cable are
    // edit-2 (two subs) — excluded
    assert(got == Seq(("table", 2L)))
    // the input itself never suggests
    assert(!TextAnalysis.suggestTerms(spark, root, "table", 5)
      .collect().map(_.getString(0)).contains("table"))
  }

  test("completion suggester: prefix band ranked by (df desc, tok), deletes correct the weights") {
    import spark.implicits._
    val docs = Seq(
      (1L, "app apple apply"),
      (2L, "apple banana"),
      (3L, "apply apple app zz")
    ).toDF("doc_id", "text")
    val root = Files.createTempDirectory("sugc_idx").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 4)
    def got(k: Int): Seq[(String, Long, Long)] =
      TextAnalysis.suggestComplete(spark, root, "ap", k)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(t => (-t._2, t._1)) // limit(k) order is the rank
    // df: apple 3 > app 2 = apply 2 (tok tie-break) — banana/zz out of band
    assert(got(10) == Seq(("apple", 3L, 3L), ("app", 2L, 2L),
      ("apply", 2L, 2L)))
    // k cuts AFTER the rank: top-2 keeps apple then app
    assert(got(2) == Seq(("apple", 3L, 3L), ("app", 2L, 2L)))
    // the dictionary path never reads postings
    val files = TextAnalysis.suggestComplete(spark, root, "ap", 10)
      .inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/terms")),
      s"completion must answer from the dictionary alone, read: ${files.mkString(",")}")
    // tombstone corrections re-weight: doc 3 carried one app/apple/apply
    TextAnalysis.deleteBm25Docs(spark, root, Seq(3L))
    assert(got(10) == Seq(("apple", 2L, 2L), ("app", 1L, 1L),
      ("apply", 1L, 1L)))
  }

  test("intervals: ordered chains within n+max_gaps; unordered relaxes direction; greedy == exists") {
    import spark.implicits._
    val root = Files.createTempDirectory("agg_iv_idx").toString
    TextAnalysis.writeBm25Index(Seq(
      (1L, "a b z z z"), // a→b adjacent: g=0 matches
      (2L, "a x b z z"), // one gap: needs g>=1
      (3L, "b a z z z"), // wrong order: ordered never, unordered g>=0
      (4L, "a x x x b"), // three gaps: needs g>=3
      (5L, "a b c z z"), // 3-term chain, adjacent
      (6L, "a c b z z"), // 3-term wrong inner order
      (7L, "a b x x b") // greedy: earliest b wins, tf=1
    ).toDF("doc_id", "text"), "doc_id", "text", root,
      nBuckets = 2, positions = true)
    def ids(terms: Seq[String], ordered: Boolean, g: Int): Seq[Long] =
      TextAnalysis.bm25IntervalsTopK(spark, root, terms, ordered, g,
        k = 20).collect().map(_.getLong(0)).toSeq.sorted
    assert(ids(Seq("a", "b"), ordered = true, 0) == Seq(1L, 5L, 7L))
    // g=1 admits one gap: docs 2 (a x b) AND 6 (a c b — any token gaps)
    assert(ids(Seq("a", "b"), ordered = true, 1) ==
      Seq(1L, 2L, 5L, 6L, 7L))
    assert(ids(Seq("a", "b"), ordered = true, 3) ==
      Seq(1L, 2L, 4L, 5L, 6L, 7L))
    // unordered: doc 3's reversed pair now matches at g=0 (|Δ|=1)
    assert(ids(Seq("a", "b"), ordered = false, 0) ==
      Seq(1L, 3L, 5L, 7L))
    // 3-term ordered: only the in-order chain
    assert(ids(Seq("a", "b", "c"), ordered = true, 0) == Seq(5L))
    assert(ids(Seq("a", "c", "b"), ordered = true, 0) == Seq(6L))
    // a term absent corpus-wide → empty, every member is REQUIRED
    assert(ids(Seq("a", "nosuch"), ordered = true, 9) == Seq())
    // contract bounds refuse loudly
    assertThrows[IllegalArgumentException](
      ids(Seq("a"), ordered = true, 0))
    assertThrows[IllegalArgumentException](
      ids(Seq("a", "b", "c"), ordered = false, 0))
    assertThrows[IllegalArgumentException](
      ids(Seq("a", "b"), ordered = true, -1))
  }

  test("significant_text: duplicate hit text collapses before counting — no retweet amplification") {
    import spark.implicits._
    // five verbatim copies carrying 'boiler' + one unique doc carrying
    // 'gem'; background noise so the lift denominator is honest
    val docs = (Seq.fill(5)("boiler plate match zzz").zipWithIndex
      .map { case (t, i) => ((i + 1).toLong, t) } ++
      Seq((6L, "gem match zzz"),
        (7L, "noise alpha beta"), (8L, "noise gamma delta")))
      .toDF("doc_id", "text")
    val root = Files.createTempDirectory("agg_st_idx").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root,
      nBuckets = 2)
    val got = TextAnalysis.bm25SignificantText(spark, root, "zzz",
      docs, "doc_id", "text", shardSize = 10, k = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // the 5 boiler copies collapse to ONE survivor: fg(boiler)=1 like
    // fg(gem)=1 — under significant_terms boiler's fg would be 5
    assert(got("boiler") == ((1L, 5L)), s"got $got")
    assert(got("gem") == ((1L, 1L)))
    // gem outranks boiler: same fg, smaller bg → bigger lift
    assert(got("gem")._2 < got("boiler")._2)
    // the unsampled control: significant_terms DOES count all 5 copies
    val st = TextAnalysis.bm25SignificantTerms(spark, root, "zzz",
      docs, "doc_id", "text", k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st("boiler") == 5L)
  }

  test("exactRankProbe: exact at EVERY rank under heavy ties; window stays partitioned (VERDICT r19 #1)") {
    import spark.implicits._
    // heavy ties (13 distinct values over 400 rows), shuffled ids — the
    // worst case for any bucketing that confused value order with id
    // order; negatives exercise the double bucket map below zero
    val rows = (1L to 400L).map(i => ((i * 181) % 400, (i * 37) % 13 - 6))
    val df = rows.toDF("doc_id", "__v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val expect = rows.sortBy(t => (t._2, t._1)).map(_._2)
    val (probe, decode) = TextAnalysis.exactRankProbe(df, 1L to 400L).get
    // plan pin BEFORE the collect: the replan's whole point is that no
    // WindowExec runs unpartitioned — checked through AQE/cache
    val unpart = allPlanNodes(probe.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty,
      s"rank probe ran an UNPARTITIONED window: $unpart")
    assert(allPlanNodes(probe.queryExecution.executedPlan).exists {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.nonEmpty
      case _ => false
    }, "rank probe lost its per-bucket window entirely")
    val got = probe.collect().map { r =>
      decode((r.getInt(0), r.getInt(1).toLong)) -> r.getLong(2)
    }.toMap
    df.unpersist(blocking = false)
    assert(got.size == 400)
    (1 to 400).foreach(r =>
      assert(got(r.toLong) == expect(r - 1), s"rank $r"))
    // degenerate all-equal column: one bucket, still exact
    val const = (1L to 50L).map(i => (i, 7L)).toDF("doc_id", "__v")
    val (p2, d2) =
      TextAnalysis.exactRankProbe(const, Seq(1L, 25L, 50L)).get
    assert(p2.collect().map(r =>
      d2((r.getInt(0), r.getInt(1).toLong)) -> r.getLong(2)).toMap
      == Map(1L -> 7L, 25L -> 7L, 50L -> 7L))
  }

  test("matrix_stats: exact covariances, diagonals are variances, negative covariance truncates like the oracle") {
    import spark.implicits._
    val root = Files.createTempDirectory("agg_mx_idx").toString
    // anti-correlated (x, y): covNum = 3·30 − 15·16 = −150, n² = 9 →
    // trunc(−16.67) = −16 (the shared BigInt/DuckDB-// semantic;
    // floor would say −17)
    TextAnalysis.writeBm25Index(Seq(
      (1L, "hit a", 0L, 10L),
      (2L, "hit b", 10L, 0L),
      (3L, "hit c", 5L, 6L),
      (4L, "miss d", 100L, 100L))
      .toDF("doc_id", "text", "x", "y"), "doc_id", "text", root,
      nBuckets = 2, docValueCols = Seq("x", "y"))
    val got = TextAnalysis.bm25MatrixStatsAgg(spark, root, "hit",
      Seq(("x", "x"), ("y", "y")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // var(x): 3·125 − 225 = 150 → 150/9 trunc = 16
    // var(y): 3·136 − 256 = 152 → 152/9 trunc = 16
    assert(got == Map(
      ("x", "x") -> ((3L, 16L)),
      ("x", "y") -> ((3L, -16L)),
      ("y", "y") -> ((3L, 16L))))
    // no matches → empty frame
    assert(TextAnalysis.bm25MatrixStatsAgg(spark, root, "zzznomatch",
      Seq(("x", "x"), ("y", "y"))).count() == 0L)
    assertThrows[IllegalArgumentException](
      TextAnalysis.bm25MatrixStatsAgg(spark, root, "hit",
        Seq(("x", "x"))))
  }

  test("more_like_this: tf·idf selection respects min_doc_freq, min_term_freq, and the term budget") {
    import spark.implicits._
    val root = Files.createTempDirectory("agg_mlt_idx").toString
    // 'rare' df=1, 'mid' df=2, 'common' df=4 — idf strictly orders them
    TextAnalysis.writeBm25Index(Seq(
      (1L, "rare mid common x"),
      (2L, "mid common y"),
      (3L, "common z"),
      (4L, "common w")).toDF("doc_id", "text"), "doc_id", "text", root,
      nBuckets = 2)
    def ids(like: String, maxQ: Int, minTf: Int = 1,
        minDf: Int = 1): Set[Long] =
      TextAnalysis.bm25MoreLikeThisTopK(spark, root, like, maxQ, k = 10,
        minTermFreq = minTf, minDocFreq = minDf)
        .collect().map(_.getLong(0)).toSet
    // budget 1 from 'rare common': rare wins on idf → only doc 1
    assert(ids("rare common", 1) == Set(1L))
    // min_doc_freq=2 drops 'rare' → common serves all four
    assert(ids("rare common", 1, minDf = 2) == Set(1L, 2L, 3L, 4L))
    // tf weighting: 'mid mid mid rare' — tf=3 at idf(mid)=10000 beats
    // rare's single occurrence at idf 20000 (30000 > 20000), so the
    // 1-term budget selects 'mid' → docs {1, 2}
    assert(ids("mid mid mid rare", 1) == Set(1L, 2L))
    // min_term_freq=2 keeps only the repeated term
    assert(ids("common common rare", 1, minTf = 2) ==
      Set(1L, 2L, 3L, 4L))
    // a like-text of never-seen tokens serves nothing
    assert(ids("qqq www", 3) == Set())
  }

  test("rank_feature: saturation boost is monotone, half at pivot; negative features clamp to zero") {
    import spark.implicits._
    val root = Files.createTempDirectory("agg_rf_idx").toString
    TextAnalysis.writeBm25Index(Seq(
      (1L, "hit one", 250L), // v = pivot → exactly half-boost
      (2L, "hit two", 0L), // zero feature → zero boost
      (3L, "hit three", -50L), // negative clamps to 0
      (4L, "hit four", 1000000L)) // → boost saturates toward 2000
      .toDF("doc_id", "text", "feat"), "doc_id", "text", root,
      nBuckets = 2, docValueCols = Seq("feat"))
    val got = TextAnalysis.bm25RankFeatureTopK(spark, root, "hit",
      "feat", pivot = 250L, boost1000 = 2000L, k = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical text ⇒ identical BM25 base; the boost orders them
    val base = got(2L) // zero-boost row IS the base
    assert(got(3L) == base, "negative feature must clamp to zero boost")
    assert(got(1L) == base + 1000L, "v = pivot must add exactly half")
    assert(got(4L) == base + (2000L * 1000000L) / 1000250L)
    assertThrows[IllegalArgumentException](
      TextAnalysis.bm25RankFeatureTopK(spark, root, "hit", "feat",
        pivot = 0L, boost1000 = 2000L, k = 10))
  }

  test("property: both rank-select paths equal brute force on arbitrary distributions") {
    import spark.implicits._
    import org.scalacheck.Gen
    // mixed regimes: dense ties, extreme magnitudes, tiny frames —
    // 12 sampled cases × 2 paths (Spark jobs are the cost, not cases)
    val gen = for {
      n <- Gen.choose(1, 120)
      mode <- Gen.oneOf(0, 1, 2)
      vals <- Gen.listOfN(n, mode match {
        case 0 => Gen.choose(-5L, 5L)
        case 1 => Gen.choose(Long.MinValue / 4, Long.MaxValue / 4)
        case 2 => Gen.const(7L)
      })
      ranks <- Gen.nonEmptyListOf(Gen.choose(1L, n.toLong))
    } yield (vals, ranks.distinct)
    var seed = org.scalacheck.rng.Seed(2026L)
    var cases = 0
    while (cases < 12) {
      gen.apply(Gen.Parameters.default, seed).foreach {
        case (vals, ranks) =>
          cases += 1
          val rows = vals.zipWithIndex.map { case (v, i) =>
            (i.toLong, v)
          }
          val df = rows.toDF("doc_id", "__v")
          val sorted = rows.sortBy(t => (t._2, t._1)).map(_._2)
          val expect = ranks.map(r => r -> sorted((r - 1).toInt)).toMap
          assert(TextAnalysis.exactValueAtRanks(df, ranks) == expect,
            s"bucketed path diverged on $vals at $ranks")
          val (probe, decode) = TextAnalysis.exactRanksRanged(df, ranks)
          val ranged = probe.collect().map { r =>
            decode((r.getInt(0), r.getInt(1).toLong)) -> r.getLong(2)
          }.toMap
          assert(ranged == expect,
            s"ranged path diverged on $vals at $ranks")
      }
      seed = seed.next
    }
  }

  test("tie-mass fallback: a dominant tie class trips the gate; the ranged path splits it and stays exact") {
    import spark.implicits._
    // 90% of rows share value 5 — the value bucketing piles them into
    // one bucket; with the gate low the probe signals None and the
    // repartitionByRange path (which splits ties on doc_id) takes over
    val rows = (1L to 300L).map(i =>
      ((i * 181) % 300, if (i % 10 == 0) (i % 7) - 3 else 5L))
    val df = rows.toDF("doc_id", "__v")
    val expect = rows.sortBy(t => (t._2, t._1)).map(_._2)
    assert(TextAnalysis.exactRankProbe(df, 1L to 300L,
      tieMassThreshold = Some(50L)).isEmpty,
      "the dominant tie class must trip the tie-mass gate")
    // the fallback: every rank exact, window still PARTITIONED, and
    // the tie class actually SPLITS across range partitions
    val (probe, decode) = TextAnalysis.exactRanksRanged(df, 1L to 300L)
    val unpart = allPlanNodes(probe.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, "ranged fallback ran an unpartitioned window")
    val got = probe.collect().map { r =>
      (decode((r.getInt(0), r.getInt(1).toLong)), r.getLong(2),
        r.getInt(0))
    }
    assert(got.map(g => g._1 -> g._2).toMap.size == 300)
    (1 to 300).foreach(r =>
      assert(got.map(g => g._1 -> g._2).toMap.apply(r.toLong)
        == expect(r - 1), s"rank $r"))
    // the 270-row tie class spans MULTIPLE range partitions — the
    // whole point of sampling (v, doc_id) jointly
    val tiePids = got.filter(_._2 == 5L).map(_._3).distinct
    assert(tiePids.size > 1,
      s"tie class landed in one partition: $tiePids")
    // end-to-end: the public agg stays exact when forced through the
    // fallback (threshold 1 trips on any tie)
    val atr = TextAnalysis.exactValueAtRanks(df, Seq(1L, 150L, 300L),
      tieMassThreshold = 1L)
    assert(atr == Map(1L -> expect(0), 150L -> expect(149),
      300L -> expect(299)))
  }

  test("pinned on a zero-segment index returns nothing — pins cannot outlive the corpus (ADVICE r20)") {
    import spark.implicits._
    val root = Files.createTempDirectory("agg_pin_empty").toString
    TextAnalysis.writeBm25Index(
      Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", root, nBuckets = 2)
    // tombstone everything and compact: the manifest commits an EMPTY
    // segment list (the r14 contract) — a pinned query must now return
    // zero rows, not trust the pins as-given
    TextAnalysis.deleteBm25Docs(spark, root, Seq(1L, 2L))
    assert(TextAnalysis.compactBm25Index(spark, root, nBuckets = 2) == 1)
    assert(TextAnalysis.Bm25Snapshot(spark, root).segments.isEmpty)
    assert(TextAnalysis.bm25PinnedTopK(spark, root, "beta",
      Seq(1L, 2L), k = 10).count() == 0L)
  }

  test("extended_stats aggregates sum-of-squares in DECIMAL: exact where a Long sum wraps, loud past BIGINT (ADVICE r20)") {
    import spark.implicits._
    // two docs at 2e9: sum(v*v) as Long = 8e18 (fits, but each square
    // already passed 2^62 — a 4-doc corpus wraps); decimal carries it
    val root = Files.createTempDirectory("agg_es_big").toString
    TextAnalysis.writeBm25Index(
      Seq((1L, "hit a", 2000000000L), (2L, "hit b", 2000000000L))
        .toDF("doc_id", "text", "big"),
      "doc_id", "text", root, nBuckets = 2, docValueCols = Seq("big"))
    val es = TextAnalysis.bm25ExtendedStatsAgg(spark, root, "hit", "big")
      .head()
    assert(es.getLong(5) == 8000000000000000000L) // Σv² exact
    assert(es.getLong(6) == 0L && es.getLong(7) == 0L) // zero variance
    // four docs at 2e9: Σv² = 1.6e19 > 2⁶³ — a Long aggregate returns
    // a silently-wrapped NEGATIVE; the decimal path refuses loudly
    val root2 = Files.createTempDirectory("agg_es_over").toString
    TextAnalysis.writeBm25Index(
      (1L to 4L).map(i => (i, s"hit d$i", 2000000000L))
        .toDF("doc_id", "text", "big"),
      "doc_id", "text", root2, nBuckets = 2, docValueCols = Seq("big"))
    val ex = intercept[IllegalArgumentException](
      TextAnalysis.bm25ExtendedStatsAgg(spark, root2, "hit", "big"))
    assert(ex.getMessage.contains("exceed BIGINT"))
    // opposite-sign extremes: s = 0 and ss fits BIGINT, but the
    // variance numerator n·Σv² − s² ≈ 2·ss·n pushes variance_1000
    // past 2⁶³ — must ALSO fail loud, not wrap at emit (review r20)
    val root3 = Files.createTempDirectory("agg_es_var").toString
    TextAnalysis.writeBm25Index(
      Seq((1L, "hit p", 2120000000L), (2L, "hit q", -2120000000L))
        .toDF("doc_id", "text", "big"),
      "doc_id", "text", root3, nBuckets = 2, docValueCols = Seq("big"))
    val ex2 = intercept[IllegalArgumentException](
      TextAnalysis.bm25ExtendedStatsAgg(spark, root3, "hit", "big"))
    assert(ex2.getMessage.contains("variance exceeds BIGINT"))
  }
}
