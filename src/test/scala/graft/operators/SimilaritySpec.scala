package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestBase

class SimilaritySpec extends AnyFunSuite with SparkTestBase {

  private lazy val emb = spark.read.parquet(sf("embeddings")).cache()

  /** Order-insensitive result equality: serve plans rank with per-query
    * row_number windows, so cross-partition OUTPUT order is incidental —
    * compare canonical sorted renderings instead of raw collect order
    * (the IvfDeleteSpec ADVICE r12 finding, fixed suite-wide). */
  private implicit class CanonOps[T](rows: Array[T]) {
    def sameRows(other: Array[T]): Boolean =
      rows.map(String.valueOf(_: Any)).sorted
        .sameElements(other.map(String.valueOf(_: Any)).sorted)
  }

  test("brute-force topK returns k ranked neighbors per query") {
    val queries = emb.filter(col("vec_id") < 5)
    val res = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3)
      .collect()
    assert(res.length == 15) // 5 queries × 3
    val byQuery = res.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
      // cosine non-increasing with rank
      assert(sorted.sliding(2).forall(p => p(0).getDouble(3) >= p(1).getDouble(3)))
      // no self matches
      assert(rows.forall(r => r.getLong(2) != r.getLong(0)))
    }
  }

  test("LSH topK has decent recall@3 vs brute force") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshTopK(queries, emb, "vec_id", "embedding", k = 3, planes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // random 64-dim vectors are LSH's worst case: with 8 planes + 1-bit
    // multiprobe we visit 9/256 ≈ 3.5% of the corpus, so random guessing
    // would score ~0.035. Require clearly-better-than-chance recall.
    assert(recall >= 0.1, s"recall $recall vs ~0.035 random baseline")
    assert(approx.nonEmpty)
  }

  test("int8-quantized topK closely tracks exact float topK") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val quant = Similarity.quantizedTopK(queries, emb, "vec_id", "embedding", k = 3)
      .collect()
    assert(quant.length == exact.size)
    val qset = quant.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect qset).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 quantization recall $recall vs exact")
  }

  test("IVF topK: k ranked candidates per query, better than chance recall") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val res = Similarity.ivfTopK(queries, emb, "vec_id", "embedding", k = 3)
      .collect()
    val byQuery = res.groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length))
      assert(rows.forall(r => r.getLong(2) != r.getLong(0))) // no self
    }
    val approx = res.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // 3 of 25 cells probed ≈ 12% of corpus: random guessing scores ~0.12
    assert(recall >= 0.2, s"recall $recall vs ~0.12 random baseline")
  }

  test("trained IVF: recall >= the stride baseline; training balances cells") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(res: Array[org.apache.spark.sql.Row]): Double =
      (exact intersect res.map(r => (r.getLong(0), r.getLong(2))).toSet).size.toDouble / exact.size
    val stride = recallOf(
      Similarity.ivfTopK(queries, emb, "vec_id", "embedding", k = 3).collect())
    val trained = recallOf(
      Similarity.ivfTopKTrained(queries, emb, "vec_id", "embedding", k = 3).collect())
    info(f"recall@3: trained=$trained%.3f stride=$stride%.3f")
    // the trained quantizer must not LOSE recall vs the untrained seed
    assert(trained >= stride, s"trained recall $trained < stride recall $stride")
  }

  test("integer Lloyd training is deterministic and bounded to the int8 range") {
    val a = Similarity.trainIvfCentroids(emb, "vec_id", "embedding")
    val b = Similarity.trainIvfCentroids(emb, "vec_id", "embedding")
    assert(a == b) // bit-identical across runs — no float convergence drift
    assert(a.nonEmpty && a.forall(_.length == 64))
    assert(a.flatten.forall(v => v >= -127 && v <= 127))
    // training moved at least one centroid off its stride seed
    val seed = Similarity.trainIvfCentroids(emb, "vec_id", "embedding", iters = 0)
    assert(a != seed)
  }

  test("trained PQ: recall >= the stride codebook; training is deterministic") {
    val queries = emb.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallOf(res: Array[org.apache.spark.sql.Row]): Double =
      (exact intersect res.map(r => (r.getLong(0), r.getLong(2))).toSet).size.toDouble / exact.size
    val stride = recallOf(
      Similarity.pqTopK(queries, emb, "vec_id", "embedding", k = 3).collect())
    val trained = recallOf(
      Similarity.pqTopKTrained(queries, emb, "vec_id", "embedding", k = 3).collect())
    info(f"pq recall@3: trained=$trained%.3f stride=$stride%.3f")
    assert(trained >= stride, s"trained pq recall $trained < stride recall $stride")
    val cb1 = Similarity.trainPqCodebook(emb, "vec_id", "embedding")
    val cb2 = Similarity.trainPqCodebook(emb, "vec_id", "embedding")
    assert(cb1 == cb2)
    assert(cb1.flatten.forall(v => v >= -127 && v <= 127))
    assert(cb1 != Similarity.trainPqCodebook(emb, "vec_id", "embedding", iters = 0))
  }

  test("semantic dedup drops injected parallel copies, keeps the rest") {
    // corpus ∪ exactly-parallel scaled copies (cos = 1, same int8
    // quantization -> same cell by construction)
    val copies = emb.filter(col("vec_id") < 30)
      .withColumn("vec_id", col("vec_id") + 10000)
      .withColumn("embedding",
        expr("transform(embedding, x -> x * CAST(1.5 AS FLOAT))"))
    val corpus = emb.unionAll(copies)
    val survivors = Similarity.semanticDedup(corpus, "vec_id", "embedding",
      threshold = 0.98).collect().map(_.getLong(0)).toSet
    val n = emb.count()
    // every copy (higher id than its parallel original) dropped
    assert(survivors == emb.collect().map(_.getLong(0)).toSet)
    assert(survivors.size == n)
    // determinism: second run identical (trained centroids are integer)
    val again = Similarity.semanticDedup(corpus, "vec_id", "embedding",
      threshold = 0.98).collect().map(_.getLong(0)).toSet
    assert(again == survivors)
  }

  test("IVF topK finds parallel vectors (they share a cell by construction)") {
    val copies = emb.filter(col("vec_id") >= 1 && col("vec_id") < 11)
      .withColumn("vec_id", col("vec_id") + 10001)
      .withColumn("embedding", expr("transform(embedding, x -> x * CAST(2.0 AS FLOAT))"))
    val aug = emb.unionAll(copies)
    val res = Similarity.ivfTopK(copies, aug, "vec_id", "embedding", k = 1)
      .collect()
    assert(res.length == 10)
    res.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) - 10001) // nearest = the original
      assert(r.getDouble(3) > 0.999999)
    }
  }

  test("pq encode/adc kernels: integer argmin, ties to the smaller index, table lookups") {
    import spark.implicits._
    import org.apache.spark.sql.functions.typedlit
    import graft.functions.VectorFunctions.{vec_pq_adc, vec_pq_encode}
    // vector (1,2,9,9), m=2 subspaces of 2 dims; codebook flattened
    // (j*ksub + c): subspace 0 has two IDENTICAL entries (tie → index 0),
    // subspace 1 has an exact match at index 0 and a far entry
    val cb = Seq(Seq(1L, 2L), Seq(1L, 2L), Seq(9L, 9L), Seq(0L, 0L))
    val df = Seq(Tuple1(Seq(1L, 2L, 9L, 9L))).toDF("q")
    val codes = df.select(vec_pq_encode(col("q"), typedlit(cb), 2).as("c"))
      .head.getSeq[Long](0)
    assert(codes == Seq(0L, 0L))
    // ADC: dtable[(j=0)*2+0] + dtable[(j=1)*2+0] = 5 + 11
    val adc = df.select(vec_pq_adc(typedlit(Seq(0L, 0L)),
      typedlit(Seq(5L, 7L, 11L, 13L)), 2).as("d")).head.getLong(0)
    assert(adc == 16L)
  }

  test("pq topK: exact copies share codes and take the per-query minimal distance") {
    val copies = emb.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 10000)
    val aug = emb.unionAll(copies)
    def run() = Similarity.pqTopK(emb.filter(col("vec_id") < 10), aug,
        "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val got = run()
    (0L until 10L).foreach { qid =>
      val mine = got.filter(_._1 == qid)
      // the query's own codes minimize every subspace's distance term, so
      // its exact copy (same codes) carries the minimal possible ADC sum
      val copyDist = mine.find(_._3 == qid + 10000).map(_._4)
      assert(copyDist.isDefined, s"query $qid: exact copy not in top-10")
      assert(copyDist.get == mine.map(_._4).min)
    }
    assert(got.sameRows(run())) // deterministic
  }

  test("TrainedIndex: caches per full key, serves without retraining, invalidates per corpus") {
    import Similarity.TrainedIndex
    TrainedIndex.invalidate()
    var trainings = 0
    def fake(tag: Long): IndexedSeq[IndexedSeq[Long]] = {
      trainings += 1; IndexedSeq(IndexedSeq(tag))
    }
    val kA = Similarity.ivfKey("corpusA", "vec_id", "embedding", 20, 3)
    // same key trains once; second call is a cache hit
    assert(TrainedIndex.getOrTrain(Some(kA))(fake(1L)).head.head == 1L)
    assert(TrainedIndex.getOrTrain(Some(kA))(fake(2L)).head.head == 1L)
    assert(trainings == 1)
    // a different embedding column is a DIFFERENT index (ADVICE r7: the
    // key must fold in idCol/vecCol, not just corpus + params)
    val kB = Similarity.ivfKey("corpusA", "vec_id", "embedding2", 20, 3)
    assert(kA != kB)
    assert(TrainedIndex.getOrTrain(Some(kB))(fake(3L)).head.head == 3L)
    assert(trainings == 2)
    // no key → always train fresh
    assert(TrainedIndex.getOrTrain(None)(fake(4L)).head.head == 4L)
    assert(trainings == 3)
    // per-corpus invalidation drops both entries of corpusA, nothing else
    val kOther = Similarity.pqKey("corpusZ", "vec_id", "embedding", 8, 20, 3)
    TrainedIndex.getOrTrain(Some(kOther))(fake(5L))
    TrainedIndex.invalidateCorpus("corpusA")
    assert(TrainedIndex.size == 1)
    assert(TrainedIndex.getOrTrain(Some(kA))(fake(6L)).head.head == 6L)
    // a failed training must not poison the key: the next access retries
    TrainedIndex.invalidate(kA)
    intercept[RuntimeException] {
      TrainedIndex.getOrTrain(Some(kA))(throw new RuntimeException("boom"))
    }
    assert(TrainedIndex.getOrTrain(Some(kA))(fake(7L)).head.head == 7L)
    TrainedIndex.invalidate()
  }

  test("TrainedIndex save/load round-trips: a fresh process serves without retraining") {
    import Similarity.TrainedIndex
    TrainedIndex.invalidate()
    val queries = emb.filter(col("vec_id") < 5)
    val key = "persist-spec"
    val trained = Similarity.ivfTopKTrained(queries, emb, "vec_id", "embedding",
      k = 3, indexKey = Some(key)).collect()
    val dir = java.nio.file.Files.createTempDirectory("graft_idx_").toString + "/index"
    assert(TrainedIndex.save(spark, dir) == 1)
    // simulate a fresh process: registry empty, then load from disk
    TrainedIndex.invalidate()
    assert(TrainedIndex.size == 0)
    var trainings = 0
    val loaded = TrainedIndex.load(spark, dir)
    assert(loaded.exists(_.contains(key)))
    // served result identical, and the train thunk is never invoked
    val cents = TrainedIndex.getOrTrain(
      Some(Similarity.ivfKey(key, "vec_id", "embedding", 20, 3)))(
      { trainings += 1; IndexedSeq(IndexedSeq(0L)) })
    assert(trainings == 0)
    assert(cents.nonEmpty && cents.head.nonEmpty)
    val served = Similarity.ivfTopKTrained(queries, emb, "vec_id", "embedding",
      k = 3, indexKey = Some(key)).collect()
    assert(served.sameRows(trained))
    // selective save honors onlyKeys
    TrainedIndex.getOrTrain(Some("other:key"))(IndexedSeq(IndexedSeq(9L)))
    val dir2 = java.nio.file.Files.createTempDirectory("graft_idx2_").toString + "/index"
    assert(TrainedIndex.save(spark, dir2,
      onlyKeys = Some(Seq("other:key"))) == 1)
    TrainedIndex.invalidate()
    assert(TrainedIndex.load(spark, dir2) == Seq("other:key"))
    TrainedIndex.invalidate()
  }

  test("materialized IVF index: served results == trained search; scan partition-prunes") {
    import Similarity.TrainedIndex
    TrainedIndex.invalidate()
    val queries = emb.filter(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfidx_").toString + "/index"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", idx, indexKey = "spec-ivf")
    // completeness marker is written LAST — its presence implies the
    // centroids are on disk too (gate for persistent-index reuse)
    assert(new java.io.File(s"$idx/${Similarity.ReadyMarker}").exists())
    val served = Similarity.ivfTopKServed(spark, idx, queries,
      "vec_id", "embedding", k = 3, indexKey = "spec-ivf")
    val want = Similarity.ivfTopKTrained(queries, emb, "vec_id", "embedding",
      k = 3, indexKey = Some("spec-ivf")).collect()
    assert(served.collect().sameRows(want))
    // the index scan must touch only the probed cells — with the cell
    // manifest this is an explicit pruned FILE list (no PartitionFilters
    // in the plan because discovery never ran); assert on the scanned
    // files themselves, which pins BOTH serve shapes
    val cellsOnDisk = new java.io.File(idx).listFiles
      .count(_.getName.startsWith("cell="))
    val scannedCells = served.inputFiles
      .flatMap(f => "cell=([0-9]+)".r.findFirstMatchIn(f).map(_.group(1)))
      .distinct
    assert(scannedCells.nonEmpty && scannedCells.length < cellsOnDisk,
      s"index scan reads ${scannedCells.length} of $cellsOnDisk cells — no pruning")
    // cold-process serve: registry cleared, centroids load from the index
    TrainedIndex.invalidate()
    val cold = Similarity.ivfTopKServed(spark, idx, queries,
      "vec_id", "embedding", k = 3, indexKey = "spec-ivf").collect()
    assert(cold.sameRows(want))
    TrainedIndex.invalidate()
  }

  test("trained IVF with indexKey returns identical results to untrained-key run") {
    import Similarity.TrainedIndex
    TrainedIndex.invalidate()
    val queries = emb.filter(col("vec_id") < 5)
    val fresh = Similarity.ivfTopKTrained(queries, emb, "vec_id", "embedding", k = 3)
      .collect()
    val keyed = Similarity.ivfTopKTrained(queries, emb, "vec_id", "embedding", k = 3,
      indexKey = Some("spec-emb")).collect()
    val served = Similarity.ivfTopKTrained(queries, emb, "vec_id", "embedding", k = 3,
      indexKey = Some("spec-emb")).collect() // cache hit
    assert(TrainedIndex.size == 1)
    assert(keyed.sameRows(fresh))
    assert(served.sameRows(fresh))
    TrainedIndex.invalidate()
  }

  test("materialized PQ index: codes served from pruned cells, ADC == full-corpus ADC on shared pairs") {
    import Similarity.TrainedIndex
    TrainedIndex.invalidate()
    val queries = emb.filter(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("graft_pqidx_").toString + "/index"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", idx,
      indexKey = "spec-pq", pqM = Some(8))
    // the layout carries the codes column — serve never re-encodes
    assert(spark.read.parquet(idx).columns.contains("codes"))
    val served = Similarity.pqTopKServed(spark, idx, queries,
      "vec_id", "embedding", k = 3, indexKey = "spec-pq")
    val rows = served.collect()
    assert(rows.length == 5 * 3)
    // ADC distance depends only on (query dtable, neighbor codes) — the
    // cell restriction changes the CANDIDATE SET, never a distance. So
    // every served pair's pq_dist must equal the full-corpus trained ADC
    // for that same pair (codebook cached under the same key).
    val full = Similarity.pqTopKTrained(queries, emb, "vec_id", "embedding",
      k = 500, indexKey = Some("spec-pq"))
      .select(col("query_id"), col("neighbor_id"), col("pq_dist").as("want"))
    val joined = served.join(full, Seq("query_id", "neighbor_id"), "left")
      .collect()
    joined.foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("want")), s"pair missing in full ADC: $r")
      assert(r.getAs[Long]("pq_dist") == r.getAs[Long]("want"), s"ADC mismatch: $r")
    }
    // pruned-file-list scan, like the IVF serve path (see the pin there)
    val cellsOnDisk = new java.io.File(idx).listFiles
      .count(_.getName.startsWith("cell="))
    val scannedCells = served.inputFiles
      .flatMap(f => "cell=([0-9]+)".r.findFirstMatchIn(f).map(_.group(1)))
      .distinct
    assert(scannedCells.nonEmpty && scannedCells.length < cellsOnDisk,
      s"PQ index scan reads ${scannedCells.length} of $cellsOnDisk cells — no pruning")
    // cold process: codebook + centroids load from the index's _centroids
    TrainedIndex.invalidate()
    val cold = Similarity.pqTopKServed(spark, idx, queries,
      "vec_id", "embedding", k = 3, indexKey = "spec-pq").collect()
    assert(cold.sameRows(rows))
    TrainedIndex.invalidate()
  }

  test("two-stage re-rank: exact int8 cosine over the ADC shortlist; full shortlist == exact order on probed candidates") {
    import Similarity.TrainedIndex
    TrainedIndex.invalidate()
    val queries = emb.filter(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("graft_pqrr_").toString + "/index"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", idx,
      indexKey = "spec-rr", pqM = Some(8))
    intercept[IllegalArgumentException](
      Similarity.pqTopKReranked(spark, idx, queries, "vec_id", "embedding",
        k = 5, indexKey = "spec-rr", candC = 4))
    // the full probed candidate set per query, via an unbounded ADC serve
    val cands = Similarity.pqTopKServed(spark, idx, queries,
      "vec_id", "embedding", k = 1000000, indexKey = "spec-rr")
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // local int8 quantization (the engine's spec: floor(x·127/max + 0.5))
    val vecs = emb.select(col("vec_id").cast("long"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1).map(_.toDouble)
        val ma = v.map(math.abs).max
        r.getLong(0) -> (if (ma == 0) v.map(_ => 0L).toArray
                         else v.map(x => math.floor(x * 127.0 / ma + 0.5).toLong).toArray)
      }.toMap
    def cosI8(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    // candC covering every candidate: re-rank == exact int8-cosine order
    // restricted to the probed candidate set
    val rr = Similarity.pqTopKReranked(spark, idx, queries,
      "vec_id", "embedding", k = 3, indexKey = "spec-rr", candC = 1000000)
      .orderBy(col("query_id"), col("rank")).collect()
    assert(rr.length == 5 * 3)
    rr.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val want = cands(q).toSeq
        .map(n => (n, cosI8(vecs(q), vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(3)
      val got = rows.sortBy(_.getInt(1)).map(r =>
        (r.getLong(2), r.getDouble(3)))
      assert(got.map(_._1).toSeq == want.map(_._1),
        s"query $q: got ${got.toSeq}, want $want")
      got.zip(want).foreach { case ((_, gc), (_, wc)) =>
        assert(math.abs(gc - wc) < 5e-5, s"cos mismatch: $gc vs $wc") }
    }
    // shortlist discipline at small candC: results come from the ADC
    // top-candC only (a pair outside it can never be served)
    val adcTop = Similarity.pqTopKServed(spark, idx, queries,
      "vec_id", "embedding", k = 8, indexKey = "spec-rr")
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val rrSmall = Similarity.pqTopKReranked(spark, idx, queries,
      "vec_id", "embedding", k = 3, indexKey = "spec-rr", candC = 8).collect()
    rrSmall.foreach { r =>
      assert(adcTop(r.getLong(0)).contains(r.getLong(2)),
        s"served pair outside the ADC shortlist: $r")
    }
    // the exact stage scans pruned cells only, like the ADC stage
    val cellsOnDisk = new java.io.File(idx).listFiles
      .count(_.getName.startsWith("cell="))
    val rrPlan = Similarity.pqTopKReranked(spark, idx, queries,
      "vec_id", "embedding", k = 3, indexKey = "spec-rr", candC = 8)
    val scannedCells = rrPlan.inputFiles
      .flatMap(f => "cell=([0-9]+)".r.findFirstMatchIn(f).map(_.group(1)))
      .distinct
    assert(scannedCells.nonEmpty && scannedCells.length < cellsOnDisk,
      s"re-rank scan reads ${scannedCells.length} of $cellsOnDisk cells — no pruning")
    TrainedIndex.invalidate()
  }

  test("two-stage re-rank: a zero query vector matches nothing instead of dividing by its zero norm") {
    import Similarity.TrainedIndex
    TrainedIndex.invalidate()
    val idx = java.nio.file.Files.createTempDirectory("graft_pqrr0_").toString + "/index"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", idx,
      indexKey = "spec-rr0", pqM = Some(8))
    // every coordinate zero, element type kept: its int8 norm is 0
    val zero = emb.limit(1).select(lit(-1L).as("vec_id"),
      transform(col("embedding"), x => x * 0).as("embedding"))
    val rows = Similarity.pqTopKReranked(spark, idx, zero, "vec_id",
      "embedding", k = 3, indexKey = "spec-rr0", candC = 8).collect()
    assert(rows.isEmpty, rows.mkString(","))
    TrainedIndex.invalidate()
  }

  test("incremental append: append-then-serve == rebuild-then-serve with the same centroids") {
    import Similarity.TrainedIndex
    TrainedIndex.invalidate()
    val queries = emb.filter(col("vec_id") < 5)
    val base = emb.filter(col("vec_id") < 300)
    val batch = emb.filter(col("vec_id") >= 300)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfapp_").toString
    val idxA = s"$tmp/appended"
    Similarity.writeIvfIndex(base, "vec_id", "embedding", idxA, indexKey = "spec-app")
    Similarity.appendToIvfIndex(batch, "vec_id", "embedding", idxA, indexKey = "spec-app")
    val servedA = Similarity.ivfTopKServed(spark, idxA, queries,
      "vec_id", "embedding", k = 3, indexKey = "spec-app").collect()
    // rebuild over the full corpus under the SAME key: getOrTrain serves
    // the cached centroids (trained on `base`), so the only difference
    // from the append path is WHEN rows were assigned — results must match
    val idxB = s"$tmp/rebuilt"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", idxB, indexKey = "spec-app")
    val servedB = Similarity.ivfTopKServed(spark, idxB, queries,
      "vec_id", "embedding", k = 3, indexKey = "spec-app").collect()
    assert(servedA.sameRows(servedB))
    // appended rows are genuinely served: a query's neighborhood can
    // include post-append ids (ivf cells of the batch)
    assert(spark.read.parquet(idxA).filter(col("vec_id") >= 300).count()
      == batch.count())
    TrainedIndex.invalidate()
  }

  test("append requires a ready index and carries codes on PQ indexes") {
    import Similarity.TrainedIndex
    TrainedIndex.invalidate()
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfapp2_").toString
    intercept[IllegalStateException] {
      Similarity.appendToIvfIndex(emb, "vec_id", "embedding",
        s"$tmp/nothing_here", indexKey = "spec-x")
    }
    val idx = s"$tmp/pq"
    val base = emb.filter(col("vec_id") < 300)
    val batch = emb.filter(col("vec_id") >= 300)
    Similarity.writeIvfIndex(base, "vec_id", "embedding", idx,
      indexKey = "spec-app-pq", pqM = Some(8))
    Similarity.appendToIvfIndex(batch, "vec_id", "embedding", idx,
      indexKey = "spec-app-pq", pqM = Some(8))
    // appended rows carry codes; the PQ serve path sees the whole corpus
    val appended = spark.read.parquet(idx).filter(col("vec_id") >= 300)
    assert(appended.count() == batch.count())
    assert(appended.filter(col("codes").isNull).count() == 0)
    val served = Similarity.pqTopKServed(spark, idx,
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3,
      indexKey = "spec-app-pq").collect()
    assert(served.length == 5 * 3)
    // PQ append-then-serve == rebuild-then-serve: the rebuild under the
    // SAME key serves the cached quantizers (trained on `base`), so the
    // only difference from the append path is WHEN rows were encoded
    val idxB = s"$tmp/pq_rebuilt"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", idxB,
      indexKey = "spec-app-pq", pqM = Some(8))
    val servedB = Similarity.pqTopKServed(spark, idxB,
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3,
      indexKey = "spec-app-pq").collect()
    assert(served.sameRows(servedB))
    TrainedIndex.invalidate()
  }

  test("cell manifest: build+append write it; fallback serve is identical") {
    import Similarity.TrainedIndex
    TrainedIndex.invalidate()
    val tmp = java.nio.file.Files.createTempDirectory("graft_cellmap_").toString
    val idx = s"$tmp/idx"
    Similarity.writeIvfIndex(emb.filter(col("vec_id") < 300), "vec_id",
      "embedding", idx, indexKey = "spec-map", pqM = Some(8))
    Similarity.appendToIvfIndex(emb.filter(col("vec_id") >= 300), "vec_id",
      "embedding", idx, indexKey = "spec-map", pqM = Some(8))
    val mapP = new org.apache.hadoop.fs.Path(s"$idx/${Similarity.CellMapFile}")
    val fs = mapP.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(mapP))
    val q = emb.filter(col("vec_id") < 5)
    val a = Similarity.pqTopKServed(spark, idx, q, "vec_id", "embedding",
      k = 3, indexKey = "spec-map").collect()
    val b = Similarity.ivfTopKServed(spark, idx, q, "vec_id", "embedding",
      k = 3, indexKey = "spec-map").collect()
    // appended rows are served through the manifest
    assert(a.map(_.getLong(2)).exists(_ >= 300) ||
      b.map(_.getLong(2)).exists(_ >= 300))
    // HEADERLESS manifest (a pre-schema-header index, the round-10 layout):
    // the serve must fall back to footer inference and produce the
    // identical result — old indexes stay servable without a rewrite
    val in0 = fs.open(mapP)
    val txt0 = try scala.io.Source.fromInputStream(in0).mkString finally in0.close()
    assert(txt0.startsWith(Similarity.CellMapSchemaPrefix))
    val headerless = txt0.linesIterator
      .filterNot(_.startsWith(Similarity.CellMapSchemaPrefix))
      .mkString("", "\n", "\n")
    graft.sinks.Versioned.atomicOverwrite(spark, mapP,
      headerless.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val aH = Similarity.pqTopKServed(spark, idx, q, "vec_id", "embedding",
      k = 3, indexKey = "spec-map").collect()
    val bH = Similarity.ivfTopKServed(spark, idx, q, "vec_id", "embedding",
      k = 3, indexKey = "spec-map").collect()
    assert(a.sameRows(aH) && b.sameRows(bH))
    // pre-manifest index (manifest deleted): directory-discovery fallback
    // must produce the identical result
    fs.delete(mapP, false)
    val a2 = Similarity.pqTopKServed(spark, idx, q, "vec_id", "embedding",
      k = 3, indexKey = "spec-map").collect()
    val b2 = Similarity.ivfTopKServed(spark, idx, q, "vec_id", "embedding",
      k = 3, indexKey = "spec-map").collect()
    assert(a.sameRows(a2) && b.sameRows(b2))
    TrainedIndex.invalidate()
  }

  test("versioned index: old version served until a rebuild commits") {
    import Similarity.TrainedIndex
    import graft.sinks.Versioned
    TrainedIndex.invalidate()
    val root = java.nio.file.Files.createTempDirectory("graft_vidx_")
      .toString + "/idx"
    val q = emb.filter(col("vec_id") < 5)
    val v1 = Versioned.publish(spark, root) { dir =>
      Similarity.writeIvfIndex(emb.filter(col("vec_id") < 300), "vec_id",
        "embedding", dir, indexKey = "spec-vidx")
    }
    val r1 = Similarity.ivfTopKServed(spark, Versioned.resolve(spark, root),
      q, "vec_id", "embedding", k = 3, indexKey = "spec-vidx").collect()
    assert(r1.length == 5 * 3)
    // a rebuild that dies before commit leaves v1 live and fully served —
    // the zero-downtime maintenance story the in-place compactor cannot
    // offer (its scaladoc sends object-store callers here)
    intercept[RuntimeException] {
      Versioned.publish(spark, root) { dir =>
        Similarity.writeIvfIndex(emb, "vec_id", "embedding", dir,
          indexKey = "spec-vidx")
        throw new RuntimeException("crash before commit")
      }
    }
    assert(Versioned.currentVersion(spark, root).contains(v1))
    val rMid = Similarity.ivfTopKServed(spark, Versioned.resolve(spark, root),
      q, "vec_id", "embedding", k = 3, indexKey = "spec-vidx").collect()
    assert(rMid.sameRows(r1))
    // a successful full-corpus rebuild swaps atomically; the new serve
    // sees post-300 neighbors the old version could not contain
    Versioned.publish(spark, root) { dir =>
      Similarity.writeIvfIndex(emb, "vec_id", "embedding", dir,
        indexKey = "spec-vidx")
    }
    val r2 = Similarity.ivfTopKServed(spark, Versioned.resolve(spark, root),
      q, "vec_id", "embedding", k = 3, indexKey = "spec-vidx").collect()
    assert(r2.length == 5 * 3)
    TrainedIndex.invalidate()
  }

  test("assigned-corpus cache: one assignment scan, equal results, healed eviction") {
    import Similarity.{AssignedCorpus, TrainedIndex}
    TrainedIndex.invalidate()
    val q = emb.filter(col("vec_id") < 5)
    def serve() = Similarity.ivfTopKTrained(
      q, emb, "vec_id", "embedding", k = 3, indexKey = Some("spec-cells"))
    val cold = serve().collect()
    assert(AssignedCorpus.size == 1, "first keyed serve must install the assignments")
    // warm serve reads the SAME persisted projection — no second entry,
    // bit-identical results
    val warm = serve().collect()
    assert(AssignedCorpus.size == 1)
    assert(cold.sameRows(warm))
    // a harness clearCache drops the blocks, not the registry entry;
    // the next serve re-persists (self-heal) and stays bit-identical
    spark.catalog.clearCache()
    val healed = serve().collect()
    assert(cold.sameRows(healed))
    // keyless serves never touch the registry (library default)
    Similarity.ivfTopKTrained(q, emb, "vec_id", "embedding", k = 3).collect()
    assert(AssignedCorpus.size == 1)
    // corpus invalidation evicts assignments together with the quantizer
    TrainedIndex.invalidateCorpus("spec-cells")
    assert(AssignedCorpus.size == 0, "invalidateCorpus must drop the cells entry")
    emb.cache() // re-cache the shared fixture the clearCache above dropped
  }

  test("index compaction: append sprawl packed per cell, serve unchanged") {
    import Similarity.TrainedIndex
    TrainedIndex.invalidate()
    val tmp = java.nio.file.Files.createTempDirectory("graft_idxcomp_").toString
    val idx = s"$tmp/idx"
    Similarity.writeIvfIndex(emb.filter(col("vec_id") < 200), "vec_id",
      "embedding", idx, indexKey = "spec-comp", pqM = Some(8))
    // three appends -> three file generations per touched cell
    Seq((200, 330), (330, 460), (460, 10000)).foreach { case (lo, hi) =>
      Similarity.appendToIvfIndex(
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi), "vec_id",
        "embedding", idx, indexKey = "spec-comp", pqM = Some(8))
    }
    val q = emb.filter(col("vec_id") < 5)
    val before = Similarity.pqTopKServed(spark, idx, q, "vec_id",
      "embedding", k = 3, indexKey = "spec-comp").collect()
    val stats = Similarity.compactIvfIndex(spark, idx)
    assert(stats.filesAfter < stats.filesBefore,
      s"compaction did not reduce files: $stats")
    val after = Similarity.pqTopKServed(spark, idx, q, "vec_id",
      "embedding", k = 3, indexKey = "spec-comp").collect()
    assert(before.sameRows(after))
    // the re-committed manifest names only live files
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$idx/${Similarity.CellMapFile}"))
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    txt.split('\n').filter(l => l.nonEmpty && l.contains('\t')).foreach { line =>
      val rel = line.substring(line.indexOf('\t') + 1)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/$rel")),
        s"manifest names a dead file: $rel")
    }
    // compaction rewrites the file list but must preserve the schema
    // header (it has no frame in hand to rebuild it from)
    assert(txt.startsWith(Similarity.CellMapSchemaPrefix),
      "compacted manifest lost its schema header")
    TrainedIndex.invalidate()
  }

  test("streaming ingest: foreachBatch micro-batches append to the index; serve == batch build") {
    // The 100-TB ingest shape: vectors arrive as a STREAM and the
    // materialized index absorbs them per micro-batch through the same
    // appendToIvfIndex the batch path uses (foreachBatch is Structured
    // Streaming's sink boundary for exactly this kind of stateful sink).
    // Parity bar: after the drain, serving the streamed index equals
    // serving a batch-built index over the identical corpus (same
    // centroids via the registry key — the append-vs-rebuild equality
    // the batch append spec pins, now reached through a stream).
    import Similarity.TrainedIndex
    TrainedIndex.invalidate()
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfstream_").toString
    val base = emb.filter(col("vec_id") < 300)
    val rest = emb.filter(col("vec_id") >= 300)
    val idxS = s"$tmp/streamed"
    Similarity.writeIvfIndex(base, "vec_id", "embedding", idxS, indexKey = "spec-si")
    // stage the arrivals as TWO files → maxFilesPerTrigger=1 forces TWO
    // micro-batches, so the spec proves repeated in-stream appends, not
    // one lucky batch
    val feed = s"$tmp/feed"
    rest.filter(col("vec_id") % 2 === 0).coalesce(1).write.mode("append").parquet(feed)
    rest.filter(col("vec_id") % 2 === 1).coalesce(1).write.mode("append").parquet(feed)
    var batches = 0
    val q = spark.readStream.schema(rest.schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Similarity.appendToIvfIndex(batch, "vec_id", "embedding", idxS,
            indexKey = "spec-si")
          batches += 1
        }
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream drain timed out")
    assert(batches >= 2, s"expected >=2 appending micro-batches, got $batches")
    // every streamed row is served from committed (manifest-listed) files
    assert(spark.read.parquet(idxS).filter(col("vec_id") >= 300).count() == rest.count())
    val queries = emb.filter(col("vec_id") < 5)
    val servedS = Similarity.ivfTopKServed(spark, idxS, queries,
      "vec_id", "embedding", k = 3, indexKey = "spec-si").collect()
    val idxB = s"$tmp/batch"
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", idxB, indexKey = "spec-si")
    val servedB = Similarity.ivfTopKServed(spark, idxB, queries,
      "vec_id", "embedding", k = 3, indexKey = "spec-si").collect()
    assert(servedS.sameRows(servedB),
      "streamed index must serve identically to the batch-built index")
    TrainedIndex.invalidate()
  }

  test("LSH topK finds parallel vectors with recall 1") {
    val copies = emb.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + 10000)
      .withColumn("embedding", expr("transform(embedding, x -> x * CAST(2.0 AS FLOAT))"))
    val aug = emb.unionAll(copies)
    val res = Similarity.lshTopK(copies, aug, "vec_id", "embedding", k = 1, planes = 8)
      .collect()
    assert(res.length == 10)
    res.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) - 10000) // nearest = the original
      assert(r.getDouble(3) > 0.999999)
    }
  }

  test("semanticDedupInt: integer cosine drops copies exactly, zero vectors never match") {
    import spark.implicits._
    import graft.functions.HashFunctions
    HashFunctions.register(spark)
    val docs = ((0L until 40L).map(i => (i, s"alpha beta gamma delta doc$i word$i")) ++
      Seq((100L, "alpha beta gamma delta doc7 word7"),   // exact text copy of doc 7
          (101L, ""), (102L, "")))                       // zero vectors
      .toDF("vec_id", "text")
    val vecs = docs.select(col("vec_id"),
      HashFunctions.feature_hash(col("text"), 64).as("vec"))
    val out = Similarity.semanticDedupInt(vecs, "vec_id", "vec",
      tNum = 19, tDen = 20, stride = 10).collect().map(_.getLong(0)).toSet
    // the higher-id exact copy is dropped, its original kept
    assert(out.contains(7L) && !out.contains(100L))
    // zero vectors never match anything — both empties survive
    assert(out.contains(101L) && out.contains(102L))
    // determinism: integer training + integer cosine → identical reruns
    val again = Similarity.semanticDedupInt(vecs, "vec_id", "vec",
      tNum = 19, tDen = 20, stride = 10).collect().map(_.getLong(0)).toSet
    assert(again == out)
  }

  test("featureHash: coordinate contract, sign cancellation, text→vector bridge") {
    import graft.functions.HashFunctions
    val P = HashFunctions.P
    val dim = 64
    // independent reference per the stated contract
    def ref(text: String): Array[Long] = {
      val out = new Array[Long](dim)
      text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).foreach { t =>
        val h = t.take(16).foldLeft(0L)((a, c) => (a * 131L + c) % P)
        out((h % dim).toInt) += (if ((h / dim) % 2 == 0) 1L else -1L)
      }
      out
    }
    val a = "the cat sat on the mat"
    assert(HashFunctions.featureHash(a, dim).sameElements(ref(a)))
    assert(HashFunctions.featureHash("", dim).forall(_ == 0L))
    // repeated token accumulates on one coordinate with a consistent sign
    val rep = HashFunctions.featureHash("cat cat cat", dim)
    assert(rep.count(_ != 0L) == 1 && math.abs(rep.find(_ != 0L).get) == 3L)
    // the bridge property: the hashed vectors flow through the SAME
    // trained-quantizer balancing as real embeddings
    import spark.implicits._
    val docs = (0L until 60L).map(i =>
      (i, if (i % 2 == 0) s"alpha beta gamma doc$i" else s"omega psi chi doc$i"))
      .toDF("vec_id", "text")
    HashFunctions.register(spark)
    val vecs = docs.select(col("vec_id"),
      HashFunctions.feature_hash(col("text"), dim).as("vec"))
    val out = Similarity.clusterBalance(vecs, "vec_id", "vec", cap = 5L,
      stride = 10).collect()
    assert(out.length == 60)
    out.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      assert(rows.count(_.getBoolean(3)) <= 5)
    }
  }

  test("clusterBalance: per-cell cap contract, id-order ranks, assignment matches the trained quantizer") {
    val cap = 7L
    val out = Similarity.clusterBalance(emb, "vec_id", "embedding", cap = cap)
      .collect()
    // total coverage: every corpus row present exactly once
    assert(out.length == emb.count())
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    val byCell = out.groupBy(_.getLong(1))
    byCell.foreach { case (cell, rows) =>
      val ranks = rows.sortBy(_.getLong(0)).map(_.getLong(2)).toSeq
      // ranks are exactly 1..n in vec_id order within the cell
      assert(ranks == (1L to rows.length.toLong), s"cell $cell ranks $ranks")
      // kept ⇔ rank ≤ cap, so no cell contributes more than cap
      rows.foreach(r => assert(r.getBoolean(3) == (r.getLong(2) <= cap)))
      assert(rows.count(_.getBoolean(3)) == math.min(cap, rows.length.toLong))
    }
    // the balancing split is non-trivial on this corpus (some cell > cap)
    assert(out.exists(!_.getBoolean(3)) && out.exists(_.getBoolean(3)))
    // assignments are the SAME trained quantizer semanticDedup/ANN use:
    // a second run (registry-cached or retrained — both deterministic)
    // produces identical rows
    val again = Similarity.clusterBalance(emb, "vec_id", "embedding", cap = cap)
      .collect()
    assert(out.sameRows(again))
  }

  test("randomProject: coordinates replay the sign-matrix contract; projection separates vectors") {
    import org.apache.spark.sql.functions.col
    val P = graft.functions.HashFunctions.P
    val k = 16
    // independent reference written against the STATED contract
    def quant(v: Seq[Float]): Array[Long] = {
      val m = v.map(x => math.abs(x.toDouble)).max
      if (m == 0) Array.fill(v.length)(0L)
      else v.map(x => math.floor(x.toDouble * 127.0 / m + 0.5).toLong).toArray
    }
    def sign(d: Int, j: Int): Long =
      if ((((d * 64 + j + 1).toLong * 2654435761L) % P) % 2 == 0) 1L else -1L
    def ref(v: Seq[Float]): Seq[Long] = {
      val q = quant(v)
      (0 until k).map(j => q.indices.map(d => q(d) * sign(d, j)).sum)
    }
    val sample = emb.filter(col("vec_id") < 10).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val got = Similarity.randomProject(
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    sample.foreach { case (id, v) =>
      assert(got(id) == ref(v), s"vec $id projection mismatch")
    }
    // the matrix mixes: distinct vectors land on distinct projections
    // (a rank-collapsed sign matrix — e.g. plain parity — would alias
    // many of the 10 vectors onto few distinct images)
    assert(got.values.toSeq.distinct.size == got.size,
      "projection collapsed distinct vectors — sign matrix is degenerate")
    // and no coordinate is constant across vectors (another collapse mode)
    (0 until k).foreach { j =>
      assert(got.values.map(_(j)).toSet.size > 1, s"coordinate $j is constant")
    }
  }
}
