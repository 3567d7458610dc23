package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{HashFunctions, VectorFunctions}
import graft.operators.{Hnsw, Similarity, TextAnalysis}

/**
 * search_serve and search_ingest. Set-up builds a BM25 index with
 * doc-values, an HNSW index and a feature-hash IVF/PQ index over the
 * generated corpus. One reader serves a seeded stream of blocks, each
 * holding the eight query types once. With `ingest`, one writer thread
 * meanwhile appends, deletes and compacts the BM25 index.
 */
final class SearchServe(ctx: Ctx, ingest: Boolean) extends Workload {
  private val K = 10
  private val queries: Seq[(String, String)] =
    Json.lines(new File(ctx.inputs, "queries.jsonl"))
      .map(n => n.get("type").asText -> n.get("q").asText)
  private val blocks = queries.grouped(8).toVector

  private var spark: SparkSession = _
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var vectors: Map[Long, Array[Float]] = Map.empty
  private val bm25 = new File(ctx.scratch, "bm25").getPath
  private val hnsw = new File(ctx.scratch, "hnsw").getPath
  private val ivf = new File(ctx.scratch, "ivf").getPath
  private val ivfKey = s"graftbench:${ctx.seed}"

  private val seen = mutable.Map.empty[(String, String), Seq[Row]]
  private val annResults = mutable.Map.empty[Long, Seq[Long]]
  private var next = 0

  // writer state
  private var batches: DataFrame = _
  private var writerOps: Vector[com.fasterxml.jackson.databind.JsonNode] = Vector.empty
  private var writerPos = 0
  private val committed = mutable.ArrayBuffer.empty[Int]
  private val deleted = mutable.Set.empty[Long]
  @volatile private var writerDocs = 0L
  @volatile private var writerWallS = 0.0

  def setup(s: SparkSession): Unit = {
    spark = s
    HashFunctions.register(s); VectorFunctions.register(s)
    docs = s.read.schema("doc_id LONG, text STRING, n_chars LONG, lang STRING")
      .json(new File(ctx.inputs, "docs.jsonl").getPath).persist(StorageLevel.MEMORY_ONLY)
    vecs = s.read.schema("vec_id LONG, embedding ARRAY<FLOAT>")
      .json(new File(ctx.inputs, "vectors.jsonl").getPath).persist(StorageLevel.MEMORY_ONLY)
    docs.count(); vecs.count()
    // each index's build time goes to the named line, beside setup_s
    def build(index: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      ctx.named(s"setup.$index.build_s") = (System.nanoTime() - t0) / 1e9
    }
    build("bm25")(TextAnalysis.writeBm25Index(docs, "doc_id", "text", bm25,
      docValueCols = Seq("n_chars", "lang")))
    build("hnsw")(Hnsw.buildHnswIndex(vecs, "vec_id", "embedding", hnsw,
      m = 8, efConstruction = 64, nSegments = 4))
    build("ivf")(Similarity.writeIvfIndex(
      docs.select(col("doc_id").as("vec_id"),
        HashFunctions.feature_hash(col("text"), 64).as("vec")),
      "vec_id", "vec", ivf, indexKey = ivfKey, pqM = Some(8)))
  }

  /** Vector `id` plus seeded Gaussian noise of norm about 0.1 (the vectors are unit). */
  private def queryVector(id: Long): Array[Float] = {
    val r = new scala.util.Random(ctx.seed * 1000003L + id)
    val v = vectors(id)
    v.map(x => (x + r.nextGaussian() * 0.1 / math.sqrt(v.length)).toFloat)
  }

  private def serve(t: String, q: String): Seq[Row] = t match {
    case "term" => TextAnalysis.bm25ServeTopK(spark, bm25, q, K).collect().toSeq
    case "query_string" => TextAnalysis.queryStringTopK(spark, bm25, q, K).collect().toSeq
    case "prefix" => TextAnalysis.bm25ServePrefixTopK(spark, bm25, q, K).collect().toSeq
    case "agg_mad" => TextAnalysis.bm25MadAgg(spark, bm25, q, "n_chars").collect().toSeq
    case "agg_percentiles" =>
      TextAnalysis.bm25PercentilesAgg(spark, bm25, q, "n_chars", Seq(50, 90, 99)).collect().toSeq
    case "agg_sigterms" =>
      TextAnalysis.bm25SignificantTerms(spark, bm25, q, docs, "doc_id", "text", K)
        .collect().toSeq
    case "hybrid" => hybrid(q)
    case "ann_hnsw" =>
      val s = spark
      import s.implicits._
      val id = q.toLong
      val qdf = Seq((id, queryVector(id))).toDF("vec_id", "embedding")
      val rows = Hnsw.hnswTopK(spark, hnsw, qdf, "vec_id", "embedding", K, efSearch = 64)
        .collect().toSeq
      annResults.synchronized(annResults(id) = rows.map(_.getAs[Long]("vec_id")))
      rows
  }

  /** Lexical top-k fused with the PQ-reranked dense top-k by reciprocal rank. */
  private def hybrid(q: String): Seq[Row] = {
    val s = spark
    import s.implicits._
    val qv = HashFunctions.featureHash(q, 64)
    val qdf = Seq((-1L, qv.toSeq)).toDF("vec_id", "vec")
    val lex = TextAnalysis.bm25ServeTopK(spark, bm25, q, k = 15)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).as("r_lex"))
    val den = Similarity.pqTopKReranked(spark, ivf, qdf, "vec_id", "vec",
        k = 15, indexKey = ivfKey, candC = 30, nProbe = 8)
      .select(col("neighbor_id").as("doc_id"), col("rank").cast("int").as("r_dense"))
    lex.join(den, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr("1000000000 div (60 + r_lex)"), lit(0L)) +
          coalesce(expr("1000000000 div (60 + r_dense)"), lit(0L)))
      .orderBy(col("rrf").desc, col("doc_id")).limit(K)
      .collect().toSeq
  }

  private def check(t: String, q: String, rows: Seq[Row]): Option[String] = {
    val topK = !t.startsWith("agg_")
    if (topK && rows.size > K) Some(s"$t '$q' returned ${rows.size} rows, k is $K")
    else if (ingest) None
    else seen.get((t, q)) match {
      case None => seen((t, q)) = rows; None
      case Some(prev) if prev == rows => None
      case Some(_) => Some(s"$t '$q' returned different rows on a repeat")
    }
  }

  private def block(record: Boolean): Unit = {
    blocks(next % blocks.size).foreach { case (t, q) =>
      ctx.op(s"serve.$t", record = record)(serve(t, q))(rows => check(t, q, rows))
    }
    next += 1
  }

  private def writerStep(op: com.fasterxml.jackson.databind.JsonNode, record: Boolean): Unit =
    op.get("op").asText match {
      case "append" =>
        val b = op.get("batch").asInt
        val df = batches.filter(col("batch") === b).drop("batch")
        val n = df.count()
        ctx.op("sinks.bm25.append", main = false, record = record)(
          TextAnalysis.appendBm25SegmentExactlyOnce(df, "doc_id", "text", bm25, b + 1L)) { ok =>
          if (!ok) Some(s"append of batch $b was refused")
          else { committed.synchronized(committed += b); writerDocs += n; None }
        }
      case "delete" =>
        val ids = (0 until op.get("ids").size).map(i => op.get("ids").get(i).asLong)
        ctx.op("sinks.bm25.delete", main = false, record = record)(
          TextAnalysis.deleteBm25Docs(spark, bm25, ids)) { _ =>
          deleted.synchronized(deleted ++= ids); None
        }
      case "compact" =>
        ctx.op("sinks.bm25.compact", main = false, record = record)(
          TextAnalysis.compactBm25Index(spark, bm25))(_ => None)
    }

  def warmup(): Unit = {
    vectors = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    if (ingest) {
      batches = spark.read.schema("doc_id LONG, text STRING, n_chars LONG, lang STRING, batch INT")
        .json(new File(ctx.inputs, "batches.jsonl").getPath).persist(StorageLevel.MEMORY_ONLY)
      batches.count()
      writerOps = Json.lines(new File(ctx.inputs, "writer_ops.jsonl")).toVector
    }
    block(record = false)
    if (ingest) {
      // the first append and delete warm the writer's code paths
      while (writerPos < 3) { writerStep(writerOps(writerPos), record = false); writerPos += 1 }
      writerDocs = 0
    }
  }

  /** One block of the reader; with ingest, the writer runs until the reader is done. */
  def cycle(): Unit = {
    @volatile var done = false
    val writer = new Thread(() => {
      val t0 = System.nanoTime()
      while (!done && writerPos < writerOps.size) {
        writerStep(writerOps(writerPos), record = true); writerPos += 1
      }
      writerWallS += (System.nanoTime() - t0) / 1e9
    }, "graftbench-writer")
    if (ingest) writer.start()
    block(record = true)
    done = true
    if (ingest) writer.join()
  }

  override def finish(tr: Tracer): Unit = {
    // Served BM25 top-k must equal the direct bm25TopK over the live set.
    // Deletes leave scoring statistics stale until segments merge (the
    // documented Lucene contract), so the writer's last commit is followed
    // by a compaction, after which scores must match exactly.
    val live = if (!ingest) docs else {
      val b = committed.synchronized(committed.toList)
      docs.unionByName(batches.filter(col("batch").isin(b: _*)).drop("batch"))
        .filter(!col("doc_id").isin(deleted.toSeq: _*))
    }
    if (ingest) {
      // the index as the writer left it, before the final compaction
      ctx.named("sinks.bm25.segments_live") = liveSegments().toDouble
      ctx.named("sinks.bm25.index_bytes_per_doc") =
        Dirs.du(new File(bm25)).toDouble / math.max(1L, live.count())
      ctx.op("sinks.bm25.compact", main = false, record = false)(
        TextAnalysis.compactBm25Index(spark, bm25))(_ => None)
    }
    queries.filter(_._1 == "term").map(_._2).distinct.take(2).foreach { q =>
      ctx.op("check.bm25_topk", main = false, record = false) {
        (TextAnalysis.bm25ServeTopK(spark, bm25, q, K).collect().toSeq,
          TextAnalysis.bm25TopK(live, "doc_id", "text", q, K).collect().toSeq)
      } { case (served, direct) =>
        if (served == direct) None
        else Some(s"served top-$K for '$q' $served differs from bm25TopK $direct")
      }
    }
    val recalls = annResults.toSeq.map { case (id, got) =>
      got.toSet.intersect(exactTopK(queryVector(id)).toSet).size.toDouble / K
    }
    if (recalls.nonEmpty) ctx.named("ann_recall_at_10") = Stats.mean(recalls)
    ctx.named("serve_ms_p50") = Stats.median(ctx.ops.filter(_.main).map(_.ms))
    if (ingest) ctx.named("ingest_docs_per_s") = workPerS
    ctx.knownDefect("hybrid_zero_query_vector_divides_by_zero") {
      hybrid(Json.read(new File(ctx.inputs, "expect.json")).get("zero_hash_query").asText)
      None
    }
  }

  /** Segments named by the index's current manifest (comment lines excluded). */
  private def liveSegments(): Int = {
    import graft.sinks.Versioned
    Versioned.currentVersion(spark, bm25).flatMap(v => Versioned.readSmallText(spark,
      new org.apache.hadoop.fs.Path(s"$bm25/$v", "segments")))
      .map(_.split('\n').map(_.trim).count(l => l.nonEmpty && !l.startsWith("#")))
      .getOrElse(0)
  }

  /** Exact cosine top-k by brute force, ties by id. */
  private def exactTopK(q: Array[Float]): Seq[Long] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val qn = norm(q)
    vectors.toSeq.map { case (id, v) =>
      val dot = q.indices.map(i => q(i).toDouble * v(i)).sum
      (id, if (qn == 0 || norm(v) == 0) -2.0 else dot / (qn * norm(v)))
    }.sortBy { case (id, c) => (-c, id) }.take(K).map(_._1)
  }

  def workPerS: Double =
    if (ingest) (if (writerWallS > 0) writerDocs / writerWallS else 0.0)
    else {
      val ms = ctx.ops.filter(_.main).map(_.ms)
      if (ms.isEmpty) 0.0 else ms.size / (ms.sum / 1000)
    }
}
