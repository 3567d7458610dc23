package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The physical plan of every serve that shares the BM25 scoring kernel,
  * normalized ([[SparkTestBase.normalizedPlan]]) and compared with a
  * golden under `src/test/resources/bm25_plans/`. A refactor of the
  * serves must leave every golden byte-identical. To regenerate, delete
  * the golden files and run this spec from the repository root: it
  * writes each missing golden and fails until they are committed. */
class Bm25PlanGoldenSpec extends AnyFunSuite with SparkTestBase {

  private val GoldenDir = "bm25_plans"

  test("every scoring-kernel serve plans exactly as its golden") {
    val root = Bm25SnapshotSpec.twoSegmentIndex(spark)
    val posRoot = Bm25SnapshotSpec.twoSegmentIndex(spark, positions = true)
    val serves = Bm25SnapshotSpec.kernelServes(spark, root, posRoot) ++
      geoServes(geoIndex())
    val results = serves.map { case (name, serve) =>
      val got = normalizedPlan(serve())
      val res = Option(getClass.getResource(s"/$GoldenDir/$name.txt"))
      res match {
        case Some(url) =>
          val want = new String(Files.readAllBytes(Paths.get(url.toURI)),
            StandardCharsets.UTF_8)
          name -> (if (got == want) None else Some(s"differs:\n$got"))
        case None =>
          val out = Paths.get("src", "test", "resources", GoldenDir,
            s"$name.txt")
          Files.createDirectories(out.getParent)
          Files.write(out, got.getBytes(StandardCharsets.UTF_8))
          name -> Some(s"no golden; wrote $out")
      }
    }
    val bad = results.collect { case (n, Some(msg)) => s"$n: $msg" }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** A one-segment index of the snapshot corpus with degree doc values. */
  private def geoIndex(): String = {
    import org.apache.spark.sql.functions._
    val docs = Bm25SnapshotSpec.corpus(spark)
      .withColumn("lat", col("doc_id") * 0.5 - 15.0)
      .withColumn("lon", col("doc_id") * 1.5 - 45.0)
    val root = Files.createTempDirectory("bm25geo").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 4,
      docValueCols = Seq("n_chars", "lat", "lon"))
    root
  }

  private def geoServes(root: String) = {
    import TextAnalysis._
    Seq(
      "geo_distance" -> (() => bm25GeoDistanceTopK(spark, root, "rare data",
        "lat", "lon", 0.0, 0.0, 2000000L, 10)),
      "agg_geo_centroid" -> (() => bm25GeoCentroidAgg(spark, root,
        "rare data", "lat", "lon")),
      "agg_geohash_grid" -> (() => bm25GeohashGridAgg(spark, root,
        "rare data", "lat", "lon", 4, 5)))
  }

  test("the normalizer hides ids, temp paths and UUIDs but not structure") {
    val a = Bm25SnapshotSpec.twoSegmentIndex(spark)
    val b = Bm25SnapshotSpec.twoSegmentIndex(spark)
    def plan(root: String, q: String) =
      normalizedPlan(TextAnalysis.bm25ServeTopK(spark, root, q, 10))
    val p = plan(a, "rare table")
    assert(p == plan(b, "rare table"))
    assert(!p.matches("(?s).*#\\d.*"), "expression ids survive")
    assert(!p.contains(a) && !p.contains(b), "temp paths survive")
    assert(p != plan(a, "rare"), "different plans normalize apart")
  }
}
