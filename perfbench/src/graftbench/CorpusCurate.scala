package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, TextAnalysis}

/**
 * corpus_curate: repeated passes of the curation chain over a seeded
 * Zipf-vocabulary corpus with planted exact duplicates, near-duplicates
 * and boilerplate lines. The main op is one step of the chain.
 */
final class CorpusCurate(ctx: Ctx) extends Workload {
  private val expect = Json.read(new File(ctx.inputs, "expect.json"))
  private val nDocs = expect.get("docs").asLong
  private val distinct = expect.get("distinct_texts").asLong
  private val family: Map[Long, Long] =
    Json.lines(new File(ctx.inputs, "families.jsonl"))
      .map(n => n.get("doc_id").asLong -> n.get("family").asLong).toMap

  private var spark: SparkSession = _
  private var docs: DataFrame = _
  /** Each step's output fingerprint from the first pass; later passes must match. */
  private val first = mutable.Map.empty[String, Long]
  private val passMs = mutable.ArrayBuffer.empty[Double]
  private var candidates = 0L
  private var truePairs = 0L
  private var bpeTokens = 0L

  def setup(s: SparkSession): Unit = {
    spark = s
    // One partition: spread over three tasks, each step waited for the
    // slowest of three threads, which on a host that pauses vCPUs made the
    // mean step time both higher (583 to 688 ms against 430 to 448 ms) and
    // less steady across runs.
    docs = s.read.schema("doc_id LONG, text STRING, lang STRING")
      .json(new File(ctx.inputs, "corpus.jsonl").getPath)
      .coalesce(1)
      .persist(StorageLevel.MEMORY_ONLY)
    docs.count()
  }

  private def same(step: String, v: Long): Option[String] = first.get(step) match {
    case None => first(step) = v; None
    case Some(f) if f == v => None
    case Some(f) => Some(s"$step gave $v, earlier passes gave $f")
  }

  /** One pass of the chain. */
  private def pass(record: Boolean): Unit = {
    val before = ctx.ops.size
    val en = docs.filter(col("lang") === "en")
    def step(kind: String)(body: => Long)(check: Long => Option[String]): Unit =
      ctx.op(kind, record = record)(body)(v => check(v).orElse(same(kind, v)))
    step("operators.text.quality")(TextAnalysis.qualityFilter(docs, "text").count()) { n =>
      if (n > 0 && n < nDocs) None else Some(s"quality filter kept $n of $nDocs")
    }
    step("operators.dedup.exact") {
      Dedup.exactDupGroups(docs, "doc_id", "text").select(sum(col("n") - 1)).head()
        .getAs[Long](0)
    } { extra =>
      val survivors = nDocs - extra
      if (survivors == distinct) None
      else Some(s"exact dedup keeps $survivors docs, the generator planted $distinct")
    }
    step("operators.dedup.minhash") {
      val pairs = Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.6)
        .select(col("a"), col("b")).collect()
      candidates = pairs.length
      truePairs = pairs.count(r => family(r.getLong(0)) == family(r.getLong(1)))
      pairs.length.toLong
    } { n => if (n > 0) None else Some("minhash found no pairs") }
    step("operators.dedup.line")(Dedup.lineDedupRewrite(docs, "doc_id", "text", k = 8)
      .count()) { n => if (n > 0 && n <= nDocs) None else Some(s"line dedup kept $n docs") }
    step("functions.bpe.token_count") {
      bpeTokens = docs.select(sum(TextAnalysis.bpeTokenCount(col("text")))).head().getLong(0)
      bpeTokens
    } { n => if (n > nDocs) None else Some(s"bpe counted $n tokens") }
    step("operators.text.dsir")(TextAnalysis.dsirSelect(docs, en, "doc_id", "text",
      buckets = 256, keepFrac = 0.25).filter(col("kept")).count()) { n =>
      if (math.abs(n - nDocs / 4.0) <= 1) None else Some(s"dsir kept $n of $nDocs, not a quarter")
    }
    step("operators.text.lm")(TextAnalysis.lmScore(docs, en, "doc_id", "text",
      buckets = 64, thresholdMicros = 37900L).filter(col("kept")).count()) { n =>
      if (n > 0 && n < nDocs) None else Some(s"lm kept $n of $nDocs")
    }
    if (record) passMs += ctx.ops.drop(before).map(_.ms).sum
  }

  def warmup(): Unit = pass(record = false)

  def cycle(): Unit = pass(record = true)

  override def finish(tr: Tracer): Unit = {
    ctx.named("curate_docs_per_s") = workPerS
    ctx.named("operators.dedup.minhash_candidates") = candidates.toDouble
    ctx.named("operators.dedup.minhash_true_pairs") = truePairs.toDouble
    ctx.named("operators.dedup.minhash_precision") =
      if (candidates == 0) 0.0 else truePairs.toDouble / candidates
    val bpe = ctx.ops.filter(_.kind == "functions.bpe.token_count").map(_.ms)
    if (bpe.nonEmpty)
      ctx.named("functions.bpe.tokens_per_s") = bpeTokens / (Stats.median(bpe) / 1000)
  }

  def workPerS: Double =
    if (passMs.isEmpty) 0.0 else nDocs * passMs.size / (passMs.sum / 1000)
}
