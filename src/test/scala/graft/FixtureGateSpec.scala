package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/**
 * Spec-aware build-once fixture gates (VERDICT r16 #1/#2).
 *
 * Round 16's only two red rows came from `bm25_deleted` (dead set
 * doc_id % 10 == 0) and `ensureDeletedBm25Index` (dead set
 * doc_id % 7 == 0) sharing one index dir: in the driver's name-ordered
 * run the %10 fixture built first and the %7 delete was silently
 * skipped, so the wildcard-count serves subtracted the WRONG
 * corrections. The fix is two-fold — distinct path prefixes per derived
 * state, plus a `_graft_spec` marker every gate asserts so a future
 * re-convergence fails loudly instead of serving a stranger's fixture.
 */
class FixtureGateSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def wipeFixtures(prefix: String): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    tmp.listFiles().filter(_.getName.startsWith(prefix))
      .foreach(f => org.apache.hadoop.fs.FileUtil.fullyDelete(f))
  }

  test("a second fixture wanting different derived state at one path raises loudly") {
    val idx = Files.createTempDirectory("fixgate").toString
    SparkEntry.assertFixtureSpec(spark, idx, "bm25 dead=doc_id%10==0 no-compact")
    // the same spec re-validates silently (warm-path no-op)
    SparkEntry.assertFixtureSpec(spark, idx, "bm25 dead=doc_id%10==0 no-compact")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.assertFixtureSpec(spark, idx, "bm25 dead=doc_id%7==0 no-compact")
    }
    assert(e.getMessage.contains("sharing one path"), e.getMessage)
  }

  test("driver name-ordered run: bm25_deleted builds first, deleted wildcard counts stay exact (r16 red pin)") {
    // cold start for BOTH fixture families so the build ORDER is the
    // one the driver produces (bm25_deleted < prefix_search_deleted)
    wipeFixtures("graft_bm25_del_v1_")
    wipeFixtures("graft_bm25_del7_v1_")

    // 1. bm25_deleted runs first and builds its %10-dead index
    val del10 = SparkEntry.queries("bm25_deleted")(spark, sfDir)
    assert(del10.count() > 0)

    // 2. the %7 fixture must now build at its OWN path — not reuse the
    //    %10 twin (the r16 collision)
    val prefixGot = SparkEntry.queries("prefix_search_deleted")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val suffixGot = SparkEntry.queries("suffix_search_deleted")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    // in-Spark replay of the DuckDB oracle: token counts over the corpus
    // with doc_id % 7 == 0 excluded (same tokenizer as the oracle SQL)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def counts(pred: org.apache.spark.sql.Column): Seq[(String, Long, Long)] =
      docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .filter(pred)
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("tf")).cast("long").as("n_occ"))
        .orderBy(col("tok"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    assert(prefixGot == counts(col("tok").startsWith("s")),
      s"prefix counts served the wrong dead set: $prefixGot")
    assert(suffixGot == counts(col("tok").endsWith("er")),
      s"suffix counts served the wrong dead set: $suffixGot")

    // 3. and the two dirs really hold DIFFERENT dead sets
    val del7Idx = SparkEntry.ensureDeletedBm25Index(spark, sfDir)
    val dead7 = TextAnalysis.Bm25Snapshot(spark, del7Idx).dead
    assert(dead7.nonEmpty && dead7.forall(_ % 7 == 0), dead7.take(5).toString)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val del10Dir = tmp.listFiles()
      .filter(_.getName.startsWith("graft_bm25_del_v1_")).map(_.toString)
    assert(del10Dir.nonEmpty, "bm25_deleted fixture dir missing")
    val dead10 = TextAnalysis.Bm25Snapshot(spark, del10Dir.head).dead
    assert(dead10.nonEmpty && dead10.forall(_ % 10 == 0))
  }
}
