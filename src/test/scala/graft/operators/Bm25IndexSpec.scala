package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The segmented BM25 inverted index: served == direct, appends are
  * additive (BM25 stats are sums), compaction is serve-invariant,
  * bucket-pruned serving, and the manifest-commit crash fence. */
class Bm25IndexSpec extends AnyFunSuite with SparkTestBase {

  private def corpus() = {
    import spark.implicits._
    (1L to 40L).map { i =>
      val extra = if (i % 5 == 0) " rare" else ""
      val pad = Seq.fill((i % 7).toInt)("filler").mkString(" ")
      (i, s"common data table row$extra $pad")
    }.toDF("doc_id", "text")
  }

  test("served top-k equals the direct bm25TopK row for row") {
    val docs = corpus()
    val root = Files.createTempDirectory("bm25idx").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 8)
    val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      "rare table zzz", k = 10).collect().map(_.toString)
    val served = TextAnalysis.bm25ServeTopK(spark, root,
      "rare table zzz", k = 10).collect().map(_.toString)
    assert(served.sameElements(direct),
      s"served=${served.mkString(",")} direct=${direct.mkString(",")}")
  }

  test("append serves bit-identically to a single index on the union corpus") {
    val docs = corpus()
    val base = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
    val root = Files.createTempDirectory("bm25idx").toString
    TextAnalysis.writeBm25Index(base, "doc_id", "text", root, nBuckets = 8)
    TextAnalysis.appendBm25Segment(batch, "doc_id", "text", root, nBuckets = 8)
    assert(TextAnalysis.Bm25Snapshot(spark, root).segments.size == 2)
    val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      "rare table zzz", k = 10).collect().map(_.toString)
    val served = TextAnalysis.bm25ServeTopK(spark, root,
      "rare table zzz", k = 10).collect().map(_.toString)
    assert(served.sameElements(direct),
      "appended index must equal a fresh build on the union: BM25 stats are sums")
  }

  test("cross-index merge equals a single build; its guards fail loudly") {
    val docs = corpus()
    val a = Files.createTempDirectory("bm25xma").toString
    val b = Files.createTempDirectory("bm25xmb").toString
    val dst = Files.createTempDirectory("bm25xmd").toString + "/idx"
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", a, nBuckets = 4)
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", b, nBuckets = 4)
    TextAnalysis.mergeBm25Indexes(spark, Seq(a, b), dst, nBuckets = 4)
    // one segment, serve == direct union build (stats are sums)
    assert(TextAnalysis.Bm25Snapshot(spark, dst).segments.size == 1)
    val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      "rare table zzz", k = 10).collect().map(_.toString)
    val served = TextAnalysis.bm25ServeTopK(spark, dst,
      "rare table zzz", k = 10).collect().map(_.toString)
    assert(served.sameElements(direct),
      "merged index must equal a fresh build on the union corpus")
    // sources stayed serveable and untouched
    assert(TextAnalysis.bm25ServeTopK(spark, a, "rare", 5).count() > 0)
    // a tombstoned source merges only its survivors
    val c = Files.createTempDirectory("bm25xmc").toString
    val d = Files.createTempDirectory("bm25xmg").toString
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") <= 10),
      "doc_id", "text", c, nBuckets = 4)
    TextAnalysis.writeBm25Index(
      docs.filter(col("doc_id") > 10 && col("doc_id") <= 20),
      "doc_id", "text", d, nBuckets = 4)
    TextAnalysis.deleteBm25Docs(spark, c, Seq(2L, 4L))
    val dst2 = Files.createTempDirectory("bm25xme").toString + "/idx"
    TextAnalysis.mergeBm25Indexes(spark,
      Seq(c, d), dst2, nBuckets = 4)
    val ids = TextAnalysis.bm25ServeTopK(spark, dst2, "common", 50)
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(2L) && !ids.contains(4L),
      "deleted docs must not survive a merge")
    assert(TextAnalysis.Bm25Snapshot(spark, dst2).dead.isEmpty,
      "the merged index must carry no tombstones")
    // guards: overlapping id spaces, non-fresh dest
    val eOverlap = intercept[IllegalArgumentException](
      TextAnalysis.mergeBm25Indexes(spark, Seq(a, a),
        Files.createTempDirectory("bm25xmf").toString + "/idx"))
    assert(eOverlap.getMessage.contains("disjoint"))
    val eDest = intercept[IllegalArgumentException](
      TextAnalysis.mergeBm25Indexes(spark, Seq(a, b), dst))
    assert(eDest.getMessage.contains("fresh root"))
  }

  test("compaction is serve-invariant and collapses the segment list") {
    val docs = corpus()
    val root = Files.createTempDirectory("bm25idx").toString
    TextAnalysis.writeBm25Index(
      docs.filter(col("doc_id") <= 15), "doc_id", "text", root, nBuckets = 8)
    TextAnalysis.appendBm25Segment(
      docs.filter(col("doc_id") > 15 && col("doc_id") <= 30),
      "doc_id", "text", root, nBuckets = 8)
    TextAnalysis.appendBm25Segment(
      docs.filter(col("doc_id") > 30), "doc_id", "text", root, nBuckets = 8)
    val before = TextAnalysis.bm25ServeTopK(spark, root,
      "rare table zzz", k = 10).collect().map(_.toString)
    val merged = TextAnalysis.compactBm25Index(spark, root, nBuckets = 8)
    assert(merged == 3)
    assert(TextAnalysis.Bm25Snapshot(spark, root).segments.size == 1)
    val after = TextAnalysis.bm25ServeTopK(spark, root,
      "rare table zzz", k = 10).collect().map(_.toString)
    assert(after.sameElements(before), "compaction must not change serves")
    // idempotent-ish: a second compact is a no-op on one segment
    assert(TextAnalysis.compactBm25Index(spark, root) == 1)
  }

  test("serving scans only the query terms' buckets, not the whole postings table") {
    import graft.sinks.MergeTable
    val docs = corpus()
    val root = Files.createTempDirectory("bm25idx").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 8)
    import spark.implicits._
    val seg = TextAnalysis.Bm25Snapshot(spark, root).segments.head
    val got = MergeTable.readKeys(spark, s"$root/segs/$seg/postings", "tok",
      Seq("rare").toDF("tok"))
    val scanned = got.inputFiles.toSet.filter(_.contains("/bucket="))
    val all = MergeTable.read(spark, s"$root/segs/$seg/postings")
      .inputFiles.toSet
    assert(scanned.nonEmpty && scanned.size < all.size,
      s"one-term serve must prune buckets: scanned ${scanned.size} of ${all.size}")
  }

  test("crash before the manifest commit leaves the segment invisible (or the index unbuilt)") {
    import graft.sinks.MergeTable
    val docs = corpus()
    val root = Files.createTempDirectory("bm25idx").toString
    // simulate the crash window on a FRESH build: segment landed, the
    // manifest never committed → the index does not exist yet
    val toks = docs.select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val postings = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .join(toks.groupBy("doc_id").agg(count(lit(1)).as("len")), "doc_id")
      .select(col("tok"), col("doc_id"), col("tf"), col("len"))
    MergeTable.publish(postings, s"$root/segs/seg-orphan/postings", "tok", 8)
    val e = intercept[IllegalStateException] {
      TextAnalysis.bm25ServeTopK(spark, root, "rare table", k = 5).collect()
    }
    assert(e.getMessage.contains("no committed index manifest"), e.getMessage)
    // and on an EXISTING index: an orphan segment dir does not change serves
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") <= 20),
      "doc_id", "text", root, nBuckets = 8)
    val served = TextAnalysis.bm25ServeTopK(spark, root, "rare table", k = 5)
      .collect().map(_.toString)
    val direct = TextAnalysis.bm25TopK(docs.filter(col("doc_id") <= 20),
      "doc_id", "text", "rare table", k = 5).collect().map(_.toString)
    assert(served.sameElements(direct),
      "orphan segment dirs must be invisible to serves")
  }

  test("exactly-once fence: redelivery skips, compact preserves it, vacuum sweeps orphans") {
    import graft.sinks.MergeTable
    val docs = corpus()
    val root = Files.createTempDirectory("bm25idx").toString
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") <= 20),
      "doc_id", "text", root, nBuckets = 8)
    // batch 0 applies once
    assert(TextAnalysis.appendBm25SegmentExactlyOnce(
      docs.filter(col("doc_id") > 20 && col("doc_id") <= 30),
      "doc_id", "text", root, batchId = 0L))
    val after0 = TextAnalysis.Bm25Snapshot(spark, root).segments
    assert(after0.size == 2)
    // redelivery of batch 0: no-op, manifest untouched
    assert(!TextAnalysis.appendBm25SegmentExactlyOnce(
      docs.filter(col("doc_id") > 20 && col("doc_id") <= 30),
      "doc_id", "text", root, batchId = 0L))
    assert(TextAnalysis.Bm25Snapshot(spark, root).segments == after0)
    // a crashed attempt = orphan segment dir with no manifest entry
    val toks = docs.filter(col("doc_id") > 30)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val orphanPostings = toks.groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
      .join(toks.groupBy("doc_id").agg(count(lit(1)).as("len")), "doc_id")
      .select(col("tok"), col("doc_id"), col("tf"), col("len"))
    MergeTable.publish(orphanPostings,
      s"$root/segs/seg-crashed/postings", "tok", 8)
    // the retry (batch 1) lands the rows exactly once
    assert(TextAnalysis.appendBm25SegmentExactlyOnce(
      docs.filter(col("doc_id") > 30), "doc_id", "text", root, batchId = 1L))
    val served = TextAnalysis.bm25ServeTopK(spark, root,
      "rare table zzz", k = 10).collect().map(_.toString)
    val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      "rare table zzz", k = 10).collect().map(_.toString)
    assert(served.sameElements(direct),
      "crash+retry must land the batch exactly once")
    // compaction preserves the fence: batch 1 still refuses to reapply
    TextAnalysis.compactBm25Index(spark, root)
    assert(!TextAnalysis.appendBm25SegmentExactlyOnce(
      docs.filter(col("doc_id") > 30), "doc_id", "text", root, batchId = 1L),
      "compaction must carry the batch fence forward")
    // vacuum removes exactly the crashed orphan; serves are unchanged
    val swept = TextAnalysis.vacuumBm25Orphans(spark, root, minAgeMillis = 0L)
    assert(swept == Seq("seg-crashed"), swept.toString)
    val after = TextAnalysis.bm25ServeTopK(spark, root,
      "rare table zzz", k = 10).collect().map(_.toString)
    assert(after.sameElements(direct))
  }

  test("positional index: phrase serve equals direct phraseSearch, appends included") {
    import spark.implicits._
    val docs = Seq(
      (1L, "big table small big table"),
      (2L, "big small table"),
      (3L, "a a a"),
      (4L, "big table big")
    ).toDF("doc_id", "text")
    val root = Files.createTempDirectory("bm25pos").toString
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") <= 2),
      "doc_id", "text", root, nBuckets = 4, positions = true)
    // append auto-matches the positional layout
    TextAnalysis.appendBm25Segment(docs.filter(col("doc_id") > 2),
      "doc_id", "text", root, nBuckets = 4)
    val direct = TextAnalysis.phraseSearch(docs, "doc_id", "text",
      "big table").collect().map(_.toString)
    val served = TextAnalysis.phraseServeCount(spark, root, "big table")
      .collect().map(_.toString)
    assert(served.sameElements(direct),
      s"served=${served.mkString(",")} direct=${direct.mkString(",")}")
    // overlapping repeats served identically too
    val aaD = TextAnalysis.phraseSearch(docs, "doc_id", "text", "a a")
      .collect().map(_.toString)
    val aaS = TextAnalysis.phraseServeCount(spark, root, "a a")
      .collect().map(_.toString)
    assert(aaS.sameElements(aaD))
    // BM25 serving still works on a positional index (extra column inert)
    val bmD = TextAnalysis.bm25TopK(docs, "doc_id", "text", "big", k = 4)
      .collect().map(_.toString)
    val bmS = TextAnalysis.bm25ServeTopK(spark, root, "big", k = 4)
      .collect().map(_.toString)
    assert(bmS.sameElements(bmD))
  }

  test("phrase serve on a positions-free index fails loudly") {
    val docs = corpus()
    val root = Files.createTempDirectory("bm25nopos").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.phraseServeCount(spark, root, "common data").collect()
    }
    assert(e.getMessage.contains("positions"), e.getMessage)
  }

  test("tombstone deletes: mask now, stale stats until merge, exact after compaction") {
    val docs = corpus()
    val root = Files.createTempDirectory("bm25del").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 8)
    val dead = (1L to 40L).filter(_ % 4 == 0)
    TextAnalysis.deleteBm25Docs(spark, root, dead)
    // deleted docs vanish from results...
    val served = TextAnalysis.bm25ServeTopK(spark, root,
      "rare table zzz", k = 40).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(served.map(_._1).intersect(dead).isEmpty)
    // ...but survivors keep their FULL-corpus scores (stale stats — the
    // Lucene contract): equal to the direct query on the full corpus,
    // minus the dead rows
    val full = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      "rare table zzz", k = 40).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filterNot(x => dead.contains(x._1))
    assert(served.sameElements(full),
      "pre-merge serves must score with stale full-corpus stats")
    // appends carry the tombstones forward
    import spark.implicits._
    TextAnalysis.appendBm25Segment(
      Seq((100L, "fresh doc rare")).toDF("doc_id", "text"),
      "doc_id", "text", root, nBuckets = 8)
    val afterApp = TextAnalysis.bm25ServeTopK(spark, root,
      "rare table zzz", k = 40).collect().map(_.getLong(0))
    assert(afterApp.intersect(dead).isEmpty,
      "append must not resurrect deleted docs")
    assert(afterApp.contains(100L))
    // compaction drops dead postings, recomputes stats, clears the list
    TextAnalysis.compactBm25Index(spark, root, nBuckets = 8)
    assert(TextAnalysis.Bm25Snapshot(spark, root).dead.isEmpty)
    val survivors = docs.filter(!col("doc_id").isin(dead: _*))
      .unionByName(Seq((100L, "fresh doc rare")).toDF("doc_id", "text"))
    val exact = TextAnalysis.bm25TopK(survivors, "doc_id", "text",
      "rare table zzz", k = 40).collect().map(r => (r.getLong(0), r.getLong(1)))
    val compacted = TextAnalysis.bm25ServeTopK(spark, root,
      "rare table zzz", k = 40).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(compacted.sameElements(exact),
      "post-merge stats must be exact over the survivors")
    // and the stale/exact distinction is real: at least one score moved
    assert(compacted.toMap != served.toMap)
  }

  test("batch retrieval: one pass equals per-query serves; shared terms score in both") {
    val docs = corpus()
    val root = Files.createTempDirectory("bm25batch").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 8)
    // 'table' is shared between queries 1 and 2 — membership, not
    // dedup, decides which queries a term scores in
    val qs = Seq((1L, "rare table"), (2L, "table filler"), (3L, "zzz rare"))
    val batch = TextAnalysis.bm25BatchTopK(spark, root, qs, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    qs.foreach { case (qid, txt) =>
      val single = TextAnalysis.bm25ServeTopK(spark, root, txt, k = 5)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1, r.getLong(0), r.getLong(1)) }
      val mine = batch.filter(_._1 == qid)
      assert(mine.sameElements(single),
        s"query $qid: batch=${mine.mkString(",")} single=${single.mkString(",")}")
    }
    // one index probe: the plan reads each postings file at most once
    // per readKeys (segments = 1 here), not once per query
    val plan = TextAnalysis.bm25BatchTopK(spark, root, qs, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("maybeCompactBm25: fires past the segment or tombstone budget, no-ops inside it") {
    val docs = corpus()
    val root = Files.createTempDirectory("bm25auto").toString
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") <= 10),
      "doc_id", "text", root, nBuckets = 4)
    TextAnalysis.appendBm25Segment(docs.filter(col("doc_id") > 10 &&
      col("doc_id") <= 20), "doc_id", "text", root, nBuckets = 4)
    // inside both budgets: nothing happens
    assert(!TextAnalysis.maybeCompactBm25(spark, root, maxSegments = 8))
    assert(TextAnalysis.Bm25Snapshot(spark, root).segments.size == 2)
    // past the segment budget: compaction fires
    assert(TextAnalysis.maybeCompactBm25(spark, root, maxSegments = 1,
      nBuckets = 4))
    assert(TextAnalysis.Bm25Snapshot(spark, root).segments.size == 1)
    // past the tombstone budget: fires and clears the dead list
    TextAnalysis.deleteBm25Docs(spark, root, Seq(3L, 5L))
    assert(TextAnalysis.maybeCompactBm25(spark, root, maxDead = 1,
      nBuckets = 4))
    assert(TextAnalysis.Bm25Snapshot(spark, root).dead.isEmpty)
    val served = TextAnalysis.bm25ServeTopK(spark, root, "common data", k = 30)
      .collect().map(_.getLong(0))
    assert(!served.contains(3L) && !served.contains(5L))
  }

  test("near (slop) search: order-free band, boundary exact, served == direct") {
    import spark.implicits._
    val docs = Seq(
      (1L, "big x table"),        // gap 2: inside slop 2
      (2L, "table y z big"),      // reversed, gap 3: outside slop 2
      (3L, "big table big"),      // pairs: (0,1) and (2,1) → 2
      (4L, "big z z z z table"),  // gap 5: outside
      (5L, "table big")           // adjacent reversed: inside
    ).toDF("doc_id", "text")
    val direct = TextAnalysis.nearSearch(docs, "doc_id", "text",
      "big", "table", slop = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(direct.toSeq == Seq((1L, 1L), (3L, 2L), (5L, 1L)), direct.mkString(","))
    // slop 3 admits doc 2
    val wider = TextAnalysis.nearSearch(docs, "doc_id", "text",
      "big", "table", slop = 3).collect().map(_.getLong(0))
    assert(wider.contains(2L))
    // served from the positional index: identical
    val root = Files.createTempDirectory("bm25near").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root,
      nBuckets = 4, positions = true)
    val served = TextAnalysis.nearServeCount(spark, root, "big", "table",
      slop = 2).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(served.sameElements(direct))
  }

  test("prefix search: counts exact, range predicate pushed to the parquet scan") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha apple table"),
      (2L, "apple apple beta"),
      (3L, "banana track")
    ).toDF("doc_id", "text")
    val root = Files.createTempDirectory("bm25pfx").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 4)
    val got = TextAnalysis.prefixSearch(spark, root, "a")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq(("alpha", 1L, 1L), ("apple", 2L, 3L)),
      got.mkString(","))
    // the band predicate reaches the parquet scan: row-group stats do
    // the pruning inside the key-sorted bucket files (file-level zones
    // are honest-documented as near-useless on a hash-bucketed layout)
    val plan = TextAnalysis.prefixSearch(spark, root, "a")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("tok"),
      s"prefix band must push to the scan:\n${plan.take(2000)}")
    // deleted docs disappear from the counts
    TextAnalysis.deleteBm25Docs(spark, root, Seq(2L))
    val after = TextAnalysis.prefixSearch(spark, root, "a")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(after.toSeq == Seq(("alpha", 1L, 1L), ("apple", 1L, 1L)))
  }

  test("append commits ride the CAS seam: a rejected commit raises, orphan sweeps, retry heals") {
    import graft.sinks.Versioned
    val docs = corpus()
    val root = Files.createTempDirectory("bm25race").toString
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") <= 20),
      "doc_id", "text", root, nBuckets = 4)
    val batch = docs.filter(col("doc_id") > 20)
    // a concurrent committer won the pointer swap: the conditional put
    // reports a failed precondition — the append must RAISE (lost
    // update detected), never silently last-writer-win. The LEASE
    // claim rides the same primitive and must keep working (applied
    // for real), or the append would fail before publishing the
    // orphan segment this test sweeps.
    Versioned.setConditionalPut { (s, target, bytes) =>
      if (target.getName == graft.sinks.Lease.LeaseFile) {
        val fs = target.getFileSystem(s.sessionState.newHadoopConf())
        val out = fs.create(target, true)
        try out.write(bytes) finally out.close()
        true
      } else false
    }
    val err =
      try intercept[java.io.IOException] {
        TextAnalysis.appendBm25Segment(batch, "doc_id", "text", root,
          nBuckets = 4)
      } finally Versioned.clearConditionalPut()
    assert(err.getMessage.contains("conditional put"))
    // the failed append's segment dir is an invisible orphan
    assert(TextAnalysis.Bm25Snapshot(spark, root).segments.size == 1)
    val direct20 = TextAnalysis.bm25TopK(docs.filter(col("doc_id") <= 20),
      "doc_id", "text", "rare table", k = 10).collect().map(_.toString)
    val served20 = TextAnalysis.bm25ServeTopK(spark, root, "rare table",
      k = 10).collect().map(_.toString)
    assert(served20.sameElements(direct20),
      "a rejected append must leave the old index serving")
    val swept = TextAnalysis.vacuumBm25Orphans(spark, root, minAgeMillis = 0L)
    assert(swept.size == 1, swept.toString)
    // the retry (fresh CAS) lands and the union serves
    TextAnalysis.appendBm25Segment(batch, "doc_id", "text", root,
      nBuckets = 4)
    val directAll = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      "rare table", k = 10).collect().map(_.toString)
    val servedAll = TextAnalysis.bm25ServeTopK(spark, root, "rare table",
      k = 10).collect().map(_.toString)
    assert(servedAll.sameElements(directAll))
  }

  test("the reserved stats key cannot collide with a real token") {
    import spark.implicits._
    // a doc that *talks about* stats still tokenizes to "stats", never
    // to the space-prefixed reserved key
    val docs = Seq((1L, "stats stats stats"), (2L, "other words here"))
      .toDF("doc_id", "text")
    val root = Files.createTempDirectory("bm25idx").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 4)
    val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text", "stats", k = 5)
      .collect().map(_.toString)
    val served = TextAnalysis.bm25ServeTopK(spark, root, "stats", k = 5)
      .collect().map(_.toString)
    assert(served.sameElements(direct))
    // and the terms table holds exactly one reserved row
    import graft.sinks.MergeTable
    val seg = TextAnalysis.Bm25Snapshot(spark, root).segments.head
    val n = MergeTable.read(spark, s"$root/segs/$seg/terms")
      .filter(col("tok") === TextAnalysis.Bm25StatsKey).count()
    assert(n == 1L)
  }

  test("empty micro-batch advances the fence without publishing; all-dead compaction commits an empty index (ADVICE r14)") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25empty").toString
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 2)
    val segsBefore = TextAnalysis.Bm25Snapshot(spark, root).segments
    // an all-whitespace batch tokenizes to zero postings: the old code
    // published the postings table and THEN threw, killing the stream and
    // stranding an orphan dir — now the publish is skipped entirely and
    // the exactly-once fence still advances
    val ws = Seq((3L, "   \t  ")).toDF("doc_id", "text")
    assert(TextAnalysis.appendBm25SegmentExactlyOnce(
      ws, "doc_id", "text", root, batchId = 7L))
    assert(TextAnalysis.Bm25Snapshot(spark, root).segments == segsBefore,
      "empty batch must not add a segment")
    // fence advanced: redelivery is a no-op
    assert(!TextAnalysis.appendBm25SegmentExactlyOnce(
      ws, "doc_id", "text", root, batchId = 7L))
    // no orphan dir was written
    val segDirs = new java.io.File(s"$root/segs").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(segDirs == segsBefore.toSet, s"orphan left behind: $segDirs")
    // serving is unchanged
    assert(TextAnalysis.bm25ServeTopK(spark, root, "beta", 10)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // tombstone EVERY doc, then compact (the documented MaxBm25Tombstones
    // escape): the merge survives nothing — the manifest commits an EMPTY
    // segment list instead of throwing, and every serve returns empty
    TextAnalysis.deleteBm25Docs(spark, root, Seq(1L, 2L))
    assert(TextAnalysis.compactBm25Index(spark, root, nBuckets = 2) == 1)
    assert(TextAnalysis.Bm25Snapshot(spark, root).segments.isEmpty)
    assert(TextAnalysis.bm25ServeTopK(spark, root, "beta", 10).count() == 0)
    assert(TextAnalysis.prefixSearch(spark, root, "be").count() == 0)
    // and the index is still appendable after the wipe
    TextAnalysis.appendBm25Segment(
      Seq((9L, "beta delta")).toDF("doc_id", "text"), "doc_id", "text",
      root, nBuckets = 2)
    assert(TextAnalysis.bm25ServeTopK(spark, root, "beta", 10)
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("MaxScore serve: identical to full scoring; pruned path skips non-candidate suffix postings (VERDICT r14 #3)") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25maxscore").toString
    // engineered so the bound trips: "needle" is rare (5 docs, huge idf)
    // and "hay" is everywhere with tf=1 in long docs (tiny impact bound)
    val docs = (1L to 400L).map { i =>
      val needle = if (i <= 5) " needle" else ""
      val pad = Seq.fill(25)("pad").mkString(" ")
      (i, s"hay $pad$needle")
    }.toDF("doc_id", "text")
    // two segments, so per-term bounds merge across segments
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") <= 200),
      "doc_id", "text", root, nBuckets = 4)
    TextAnalysis.appendBm25Segment(docs.filter(col("doc_id") > 200),
      "doc_id", "text", root, nBuckets = 4)
    TextAnalysis.auditMaxScore = true
    try {
      val full = TextAnalysis.bm25ServeTopK(spark, root, "needle hay", 3)
        .collect().map(_.toString).toSeq
      val ms = TextAnalysis.bm25ServeTopKMaxScore(
        spark, root, "needle hay", 3, minSuffixRows = 0L)
        .collect().map(_.toString).toSeq
      assert(ms == full, s"maxscore=$ms full=$full")
      val audit = TextAnalysis.lastMaxScoreAudit.get
      assert(audit.pruned, s"the engineered corpus must trip the bound: $audit")
      assert(audit.nEssential == 1 && audit.nTerms == 2)
      assert(audit.candidateDocs == 5,
        s"only the needle docs are candidates: $audit")
      assert(audit.suffixRowsTotal == 400 && audit.suffixRowsScored == 5,
        s"the hay postings must be semi-join-pruned to candidates: $audit")
      assert(audit.suffixUb < audit.theta)
      // two common terms still prune (the saturated-tf term bounds the
      // other) — exactness holds even when every doc is a candidate
      val q2 = "hay pad"
      val full2 = TextAnalysis.bm25ServeTopK(spark, root, q2, 10)
        .collect().map(_.toString).toSeq
      val ms2 = TextAnalysis.bm25ServeTopKMaxScore(spark, root, q2, 10,
        minSuffixRows = 0L).collect().map(_.toString).toSeq
      assert(ms2 == full2)
      // a single present term cannot split into essential/suffix:
      // clean fallback to the full serve, no audit recorded
      val ms3 = TextAnalysis.bm25ServeTopKMaxScore(spark, root, "hay", 10,
        minSuffixRows = 0L).collect().map(_.toString).toSeq
      val full3 = TextAnalysis.bm25ServeTopK(spark, root, "hay", 10)
        .collect().map(_.toString).toSeq
      assert(ms3 == full3)
      assert(TextAnalysis.lastMaxScoreAudit.isEmpty)
      // tombstones respected on both paths
      TextAnalysis.deleteBm25Docs(spark, root, Seq(1L))
      val fullD = TextAnalysis.bm25ServeTopK(spark, root, "needle hay", 3)
        .collect().map(_.toString).toSeq
      val msD = TextAnalysis.bm25ServeTopKMaxScore(
        spark, root, "needle hay", 3, minSuffixRows = 0L)
        .collect().map(_.toString).toSeq
      assert(msD == fullD && !msD.exists(_.contains("[1,")))
    } finally TextAnalysis.auditMaxScore = false
  }

  test("MaxScore serve: a legacy (pre-stats) segment in the mix degrades to the full serve, not AnalysisException (ADVICE r21)") {
    import spark.implicits._
    import graft.sinks.MergeTable
    val root = Files.createTempDirectory("bm25mixedgen").toString
    val docs = (1L to 100L).map { i =>
      val needle = if (i <= 5) " needle" else ""
      (i, s"hay common words$needle")
    }.toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") <= 50),
      "doc_id", "text", root, nBuckets = 4)
    TextAnalysis.appendBm25Segment(docs.filter(col("doc_id") > 50),
      "doc_id", "text", root, nBuckets = 4)
    val full = TextAnalysis.bm25ServeTopK(spark, root, "needle hay", 5)
      .collect().map(_.toString).toSeq
    // sanity: with both segments current-generation the bound engages
    TextAnalysis.auditMaxScore = true
    try {
      val msBefore = TextAnalysis.bm25ServeTopKMaxScore(
        spark, root, "needle hay", 5, minSuffixRows = 0L)
        .collect().map(_.toString).toSeq
      assert(msBefore == full)
      // simulate a legacy segment: republish ONE segment's terms table
      // without the maxtf/minlen/occ/maxlen stats columns (the pre-r14
      // dictionary shape). publishRange commits a new live version.
      val segs = TextAnalysis.Bm25Snapshot(spark, root).segments
      val tRoot = s"$root/segs/${segs.head}/terms"
      val legacyTerms = MergeTable.read(spark, tRoot)
        .select(col("tok"), col("dfc"), col("tot"))
      MergeTable.publishRange(legacyTerms, tRoot, "tok", nParts = 2)
      // the mixed-generation probe must fall back to the full serve
      // (identical results), NOT crash at the collectKeys union
      TextAnalysis.lastMaxScoreAudit = None
      val msMixed = TextAnalysis.bm25ServeTopKMaxScore(
        spark, root, "needle hay", 5, minSuffixRows = 0L)
        .collect().map(_.toString).toSeq
      assert(msMixed == full, s"mixed=$msMixed full=$full")
      assert(TextAnalysis.lastMaxScoreAudit.isEmpty,
        "a legacy segment must disable the pruned path (statsReady=false)")
    } finally TextAnalysis.auditMaxScore = false
  }

  test("term dictionary: prefix serve answers from the range-layout terms table with manifest pruning (VERDICT r14 #8)") {
    import spark.implicits._
    import graft.sinks.MergeTable
    val root = Files.createTempDirectory("bm25dict").toString
    // alphabet-spanning vocabulary so dictionary files hold distinct bands
    val docs = (1L to 260L).map { i =>
      val c = ('a' + ((i - 1) % 26)).toChar
      (i, s"${c}token$i ${c}x common")
    }.toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 32)
    val seg = TextAnalysis.Bm25Snapshot(spark, root).segments.head
    val termsRoot = s"$root/segs/$seg/terms"
    val all = MergeTable.rangeFiles(spark, termsRoot, None, None)
    val band = MergeTable.rangeFiles(spark, termsRoot, Some("s"), Some("t"))
    assert(band.nonEmpty && band.size < all.size,
      s"the dictionary band must manifest-prune: ${band.size}/${all.size}")
    // reference counts straight from tokenization
    def reference(exclude: Set[Long]): Seq[(String, Long, Long)] = {
      val toks = docs.filter(!col("doc_id").isin(exclude.toSeq: _*))
        .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok").startsWith("s"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tf")).as("n_occ"))
        .orderBy(col("tok")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    def serve(): Seq[(String, Long, Long)] =
      TextAnalysis.prefixSearch(spark, root, "s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(serve() == reference(Set.empty), "dictionary-only serve must match")
    // a live tombstone forces the exact postings fallback (dictionary
    // stats are build-time); counts mask the dead doc row-exactly
    TextAnalysis.deleteBm25Docs(spark, root, Seq(19L)) // an 's' doc
    assert(serve() == reference(Set(19L)), "tombstoned serve must re-derive")
    // compaction drops the dead rows and restores the dictionary path
    TextAnalysis.compactBm25Index(spark, root, nBuckets = 32)
    assert(TextAnalysis.Bm25Snapshot(spark, root).dead.isEmpty)
    assert(serve() == reference(Set(19L)), "post-compact dictionary must be exact")
  }

  test("wildcard scoring serve: dictionary expansion + per-variant idf equals the direct computation") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25wild").toString
    val docs = (1L to 60L).map { i =>
      val v = s"sig${i % 7}" // 7 sig* variants with different df
      val rare = if (i % 20 == 0) " sigrare" else ""
      (i, s"$v common filler$rare")
    }.toDF("doc_id", "text")
    // two segments so expansion merges df across segments
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") <= 30),
      "doc_id", "text", root, nBuckets = 4)
    TextAnalysis.appendBm25Segment(docs.filter(col("doc_id") > 30),
      "doc_id", "text", root, nBuckets = 4)
    // reference: expand sig* by tokenization, score with bm25TopK over
    // the expanded term set (same integer arithmetic by construction)
    val expanded = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok").startsWith("sig")).distinct()
      .collect().map(_.getString(0)).sorted
    val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      expanded.mkString(" "), k = 10).collect().map(_.toString).toSeq
    val served = TextAnalysis.bm25ServePrefixTopK(spark, root, "sig", 10)
      .collect().map(_.toString).toSeq
    assert(served == direct, s"served=$served direct=$direct")
    // tombstones mask immediately (stats stay build-time, the documented
    // contract shared with the scoring serves)
    val top = served.head
    val topId = TextAnalysis.bm25ServePrefixTopK(spark, root, "sig", 1)
      .collect().head.getLong(0)
    TextAnalysis.deleteBm25Docs(spark, root, Seq(topId))
    val after = TextAnalysis.bm25ServePrefixTopK(spark, root, "sig", 10)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.contains(topId))
    // no match: empty result, not an error
    assert(TextAnalysis.bm25ServePrefixTopK(spark, root, "zz", 5).count() == 0)
    // the expansion budget fails loudly on a too-broad wildcard
    val wide = (1L to 60L).map(i => (i + 1000L,
      (0 to 30).map(j => s"w${i}x$j").mkString(" "))).toDF("doc_id", "text")
    val root2 = Files.createTempDirectory("bm25wild2").toString
    TextAnalysis.writeBm25Index(wide, "doc_id", "text", root2, nBuckets = 4)
    val e = intercept[IllegalArgumentException](
      TextAnalysis.bm25ServePrefixTopK(spark, root2, "w", 5).collect())
    assert(e.getMessage.contains("budget"))
  }

  test("wildcard NEAR serve: SpanOr position union over expanded variants equals the tokenization reference") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25spanwild").toString
    val docs = Seq(
      (1L, "siga x table y sigb"),      // two variants near table
      (2L, "table sigc"),               // one adjacent pair
      (3L, "siga x x x x x table"),     // out of slop
      (4L, "table other words"),        // no variant
      (5L, "sigb sigb table")           // repeated variant: two pairs
    ).toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root,
      nBuckets = 2, positions = true)
    val got = TextAnalysis.nearServePrefixCount(spark, root, "sig", "table", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // reference by hand: doc1 siga@0,table@2 (|2|<=2 ok) + sigb@4 (|2|)
    // -> 2 pairs; doc2 table@0,sigc@1 -> 1; doc3 |6| -> none;
    // doc5 sigb@0(|2|),sigb@1(|1|) -> 2
    assert(got == Seq((1L, 2L), (2L, 1L), (5L, 2L)), s"got $got")
    // self-pair guard: termB matching the prefix refuses
    val e = intercept[IllegalArgumentException](
      TextAnalysis.nearServePrefixCount(spark, root, "sig", "sigb", 2))
    assert(e.getMessage.contains("self-pair"))
    // empty expansion -> empty result
    assert(TextAnalysis.nearServePrefixCount(spark, root, "zz", "table", 2)
      .count() == 0)
  }

  test("reversed dictionary: suffix search band-prunes, counts exact, tombstones/legacy fall back (VERDICT r15 #2)") {
    import spark.implicits._
    import graft.sinks.MergeTable
    val root = Files.createTempDirectory("bm25rev").toString
    // alphabet-spanning SUFFIXES so the reversed dictionary's files hold
    // distinct bands (tokens reversed start with the varied char)
    val docs = (1L to 260L).map { i =>
      val c = ('a' + ((i - 1) % 26)).toChar
      (i, s"tok$i$c x$c common")
    }.toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 32)
    val seg = TextAnalysis.Bm25Snapshot(spark, root).segments.head
    val revRoot = s"$root/segs/$seg/terms_rev"
    val all = MergeTable.rangeFiles(spark, revRoot, None, None)
    val band = MergeTable.rangeFiles(spark, revRoot, Some("s"), Some("t"))
    assert(band.nonEmpty && band.size < all.size,
      s"the reversed band must manifest-prune: ${band.size}/${all.size}")
    def reference(exclude: Set[Long]): Seq[(String, Long, Long)] = {
      val toks = docs.filter(!col("doc_id").isin(exclude.toSeq: _*))
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .filter(col("tok").endsWith("s"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      toks.groupBy(col("tok"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tf")).as("n_occ"))
        .orderBy(col("tok")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    def serve(): Seq[(String, Long, Long)] =
      TextAnalysis.suffixSearch(spark, root, "s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(serve() == reference(Set.empty),
      "reversed-dictionary-only serve must match tokenization")
    // tombstone forces the postings recount; counts mask the dead doc
    TextAnalysis.deleteBm25Docs(spark, root, Seq(19L)) // an 's'-suffix doc
    assert(serve() == reference(Set(19L)), "tombstoned serve must re-derive")
    // compaction restores the dictionary path
    TextAnalysis.compactBm25Index(spark, root, nBuckets = 32)
    assert(TextAnalysis.Bm25Snapshot(spark, root).dead.isEmpty)
    assert(serve() == reference(Set(19L)), "post-compact reversed dictionary must be exact")
    // LEGACY segment: strip terms_rev — the serve must fall back to the
    // forward-dictionary endsWith scan with identical results
    val seg2 = TextAnalysis.Bm25Snapshot(spark, root).segments.head
    val p = new org.apache.hadoop.fs.Path(s"$root/segs/$seg2/terms_rev")
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    assert(serve() == reference(Set(19L)),
      "a segment without terms_rev must serve via the forward scan")
  }

  test("suffix scoring serve: reversed-band expansion + per-variant idf equals the direct computation") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25sfx").toString
    val docs = (1L to 60L).map { i =>
      val v = s"v${i % 7}ing" // 7 *ing variants with different df
      val rare = if (i % 20 == 0) " raring" else ""
      (i, s"$v common filler$rare")
    }.toDF("doc_id", "text")
    // two segments so expansion merges df across segments
    TextAnalysis.writeBm25Index(docs.filter(col("doc_id") <= 30),
      "doc_id", "text", root, nBuckets = 4)
    TextAnalysis.appendBm25Segment(docs.filter(col("doc_id") > 30),
      "doc_id", "text", root, nBuckets = 4)
    val expanded = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok").endsWith("ing")).distinct()
      .collect().map(_.getString(0)).sorted
    val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      expanded.mkString(" "), k = 10).collect().map(_.toString).toSeq
    val served = TextAnalysis.bm25ServeSuffixTopK(spark, root, "ing", 10)
      .collect().map(_.toString).toSeq
    assert(served == direct, s"served=$served direct=$direct")
    // no match: empty, not an error
    assert(TextAnalysis.bm25ServeSuffixTopK(spark, root, "zz", 5).count() == 0)
  }

  test("infix scoring serve: prefix∩suffix band intersection, LIKE disjoint-span semantics") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25inf").toString
    // 'ab' must NOT match pattern ab*b (spans would overlap: LIKE
    // 'ab%b' needs length ≥ 3); 'abb' and 'abxb' must
    val docs = Seq(
      (1L, "ab filler common"),
      (2L, "abb filler common"),
      (3L, "abxb filler common"),
      (4L, "axb zb common"),
      (5L, "abb abxb common")
    ).toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 4)
    val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      "abb abxb", k = 10).collect().map(_.toString).toSeq
    val served = TextAnalysis.bm25ServeInfixTopK(spark, root, "ab", "b", 10)
      .collect().map(_.toString).toSeq
    assert(served == direct, s"served=$served direct=$direct")
    // one-char bound each side: a*b -> {ab, abb, axb, abxb}, not zb
    val direct2 = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      "ab abb axb abxb", k = 10).collect().map(_.toString).toSeq
    val served2 = TextAnalysis.bm25ServeInfixTopK(spark, root, "a", "b", 10)
      .collect().map(_.toString).toSeq
    assert(served2 == direct2, s"served=$served2 direct=$direct2")
    assert(TextAnalysis.bm25ServeInfixTopK(spark, root, "z", "q", 5)
      .count() == 0)
  }

  test("fuzzy scoring serve: two-band edit-1 expansion equals the direct computation, both-band dedupe, |q|=1") {
    import spark.implicits._
    val root = Files.createTempDirectory("bm25fz").toString
    // hast: hash (edit at pos 3, forward band), fast/cast (edit at pos
    // 0, REVERSED band), hasty (insertion at end), hast itself (both
    // bands — the dedupe case); toast is edit 2 and must not expand
    val docs = Seq(
      (1L, "hash common x"),
      (2L, "fast common x"),
      (3L, "cast common x"),
      (4L, "hasty common x"),
      (5L, "hast common x"),
      (6L, "toast common x"),
      (7L, "hash fast common")
    ).toDF("doc_id", "text")
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 4)
    val direct = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      "hash fast cast hasty hast", k = 10).collect().map(_.toString).toSeq
    val served = TextAnalysis.bm25ServeFuzzyTopK(spark, root, "hast", 10)
      .collect().map(_.toString).toSeq
    assert(served == direct, s"served=$served direct=$direct")
    // |q| = 1 degenerates the reversed band to a full scan and stays
    // correct: neighborhood of 'x' in this corpus is just {x}
    val direct1 = TextAnalysis.bm25TopK(docs, "doc_id", "text", "x", 10)
      .collect().map(_.toString).toSeq
    val served1 = TextAnalysis.bm25ServeFuzzyTopK(spark, root, "x", 10)
      .collect().map(_.toString).toSeq
    assert(served1 == direct1, s"served=$served1 direct=$direct1")
    // no neighborhood: empty result
    assert(TextAnalysis.bm25ServeFuzzyTopK(spark, root, "zzzzzz", 5)
      .count() == 0)
    // multi-term input refuses
    val e = intercept[IllegalArgumentException](
      TextAnalysis.bm25ServeFuzzyTopK(spark, root, "two terms", 5))
    assert(e.getMessage.contains("single term"))
  }

  test("conjunctive AND serve: intersection semantics, cheapest-df seed prunes postings, MUST on absent terms") {
    import spark.implicits._
    val docs = corpus() // 'rare' on every 5th doc; common/data/table everywhere
    val root = Files.createTempDirectory("bm25and").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 8)
    // reference: the OR serve's scores restricted to docs carrying ALL terms
    val withAll = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok").isin("rare", "table"))
      .groupBy(col("doc_id")).agg(countDistinct(col("tok")).as("nt"))
      .filter(col("nt") === 2).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val orScores = TextAnalysis.bm25ServeTopK(spark, root, "rare table", 40)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = orScores.filter { case (id, _) => withAll(id) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(10)
    TextAnalysis.auditAndServe = true
    val got =
      try TextAnalysis.bm25ServeTopKAnd(spark, root, "rare table", 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      finally TextAnalysis.auditAndServe = false
    assert(got == expected, s"got=$got expected=$expected")
    // the audit pins the seed cut: 'rare' (df 8) seeds, so the common
    // term's postings shrink to the candidate docs before the aggregate
    val audit = TextAnalysis.lastAndServeAudit.get
    assert(audit.seedTerm == "rare" && audit.seedDf == 8)
    assert(audit.postingsRowsScored < audit.postingsRowsTotal,
      s"seed semi-join must cut postings: ${audit.postingsRowsScored}/" +
        s"${audit.postingsRowsTotal}")
    // MUST: an absent term empties the result from the dictionary alone
    assert(TextAnalysis.bm25ServeTopKAnd(spark, root, "rare zzz", 10)
      .count() == 0)
    // single term: AND == OR
    val orOne = TextAnalysis.bm25ServeTopK(spark, root, "rare", 10)
      .collect().map(_.toString).toSeq
    val andOne = TextAnalysis.bm25ServeTopKAnd(spark, root, "rare", 10)
      .collect().map(_.toString).toSeq
    assert(andOne == orOne)
    // tombstones mask: delete one qualifying doc, it vanishes
    val victim = expected.head._1
    TextAnalysis.deleteBm25Docs(spark, root, Seq(victim))
    val after = TextAnalysis.bm25ServeTopKAnd(spark, root, "rare table", 10)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.contains(victim))
  }

  test("MUST_NOT serve: excluded docs drop, survivors keep the plain serve's scores") {
    val docs = corpus()
    val root = Files.createTempDirectory("bm25not").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 8)
    val plain = TextAnalysis.bm25ServeTopK(spark, root, "common table",
      k = 40).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val not = TextAnalysis.bm25ServeTopKNot(spark, root, "common table",
      "rare", k = 40).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // every doc_id % 5 == 0 doc carries 'rare' and must be gone
    assert(not.nonEmpty && not.forall { case (id, _) => id % 5 != 0 })
    assert(plain.exists { case (id, _) => id % 5 == 0 },
      "fixture must actually have rare-bearing docs in the plain top-k")
    // exclusion is a FILTER: survivors score exactly as in the plain serve
    val plainScores = plain.toMap
    assert(not.forall { case (id, s) => plainScores.get(id).contains(s) })
    // and the order is the plain ranking with the excluded docs removed
    assert(not == plain.filter { case (id, _) => id % 5 != 0 })
    // an excluded term absent from the index excludes nothing
    val noop = TextAnalysis.bm25ServeTopKNot(spark, root, "common table",
      "qqqqq", k = 40).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(noop == plain)
    // a term both scored and prohibited fails loudly
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25ServeTopKNot(spark, root, "common table", "table", 5)
    }
  }

  test("ordered NEAR: asymmetric band, subset of unordered, served == direct") {
    import spark.implicits._
    val docs = Seq(
      (1L, "big data table"),      // big@0, table@2: ordered pair (d=2)
      (2L, "table big data"),      // table@0, big@1: unordered only
      (3L, "big table big table"), // big@0/2, table@1/3: ordered (0,1),(2,3); unordered adds (2,1)
      (4L, "table only here")
    ).toDF("doc_id", "text")
    val root = Files.createTempDirectory("bm25ord").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root,
      nBuckets = 4, positions = true)
    val direct = TextAnalysis.nearSearchOrdered(docs, "doc_id", "text",
      "big", "table", slop = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(direct == Seq((1L, 1L), (3L, 2L)), direct.mkString(","))
    val served = TextAnalysis.nearServeOrderedCount(spark, root,
      "big", "table", slop = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == direct, s"served=$served direct=$direct")
    // ordered pairs are a per-doc subset of the unordered count
    val unordered = TextAnalysis.nearServeCount(spark, root,
      "big", "table", slop = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(direct.forall { case (id, n) => n <= unordered(id) })
    assert(unordered.contains(2L) && !direct.exists(_._1 == 2L),
      "doc 2 is the order-sensitivity witness: B before A only")
    // tombstones now mask the unordered count serve too (the latent
    // gap fixed alongside: parity with phrase/prefix serves)
    TextAnalysis.deleteBm25Docs(spark, root, Seq(1L))
    val afterDel = TextAnalysis.nearServeCount(spark, root,
      "big", "table", slop = 2).collect().map(_.getLong(0)).toSeq
    assert(!afterDel.contains(1L), "deleted doc must drop from pair counts")
  }

  test("composite BooleanQuery serve: degenerate equalities and full-combo semantics") {
    val docs = corpus()
    val root = Files.createTempDirectory("bm25bool").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // MUST-only == the AND serve
    val andServe = rows(TextAnalysis.bm25ServeTopKAnd(spark, root,
      "rare table", 20))
    val boolMust = rows(TextAnalysis.bm25ServeTopKBool(spark, root,
      mustText = "rare table", shouldText = "", mustNotText = "", k = 20))
    assert(boolMust == andServe)
    // SHOULD + MUST_NOT == the NOT serve
    val notServe = rows(TextAnalysis.bm25ServeTopKNot(spark, root,
      "common table", "rare", 40))
    val boolNot = rows(TextAnalysis.bm25ServeTopKBool(spark, root,
      mustText = "", shouldText = "common table", mustNotText = "rare",
      k = 40))
    assert(boolNot == notServe)
    // full combo: MUST 'rare' (docs %5==0), SHOULD 'filler', MUST_NOT
    // none — every hit carries rare; filler adds score where present
    val combo = rows(TextAnalysis.bm25ServeTopKBool(spark, root,
      mustText = "rare", shouldText = "filler", mustNotText = "", k = 40))
    assert(combo.nonEmpty && combo.forall(_._1 % 5 == 0))
    // a SHOULD term ADDS score on top of the MUST gate: doc 5 carries
    // filler (5%7=5 of them), so its combo score strictly exceeds its
    // MUST-only score, while filler-less doc 35 scores identically
    val mustOnly = rows(TextAnalysis.bm25ServeTopKBool(spark, root,
      mustText = "rare", shouldText = "", mustNotText = "", k = 40)).toMap
    val score = combo.toMap
    assert(score(5L) > mustOnly(5L),
      s"SHOULD must add score: combo=${score(5L)} mustOnly=${mustOnly(5L)}")
    assert(score(35L) == mustOnly(35L),
      "a doc without the SHOULD term scores as if it were absent")
    // MUST + MUST_NOT combined
    val comboNot = rows(TextAnalysis.bm25ServeTopKBool(spark, root,
      mustText = "table", shouldText = "", mustNotText = "rare", k = 40))
    assert(comboNot.nonEmpty && comboNot.forall(_._1 % 5 != 0))
    // overlap between scored and prohibited fails loudly
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25ServeTopKBool(spark, root, "table", "rare", "rare", 5)
    }
  }

  test("highlighting: best window by distinct terms, leftmost tie-break, exact snippet") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x big y z w table q"),      // big@1, table@5: window@1 covers both (5 wide)
      (2L, "table x x x x big"),        // too far apart: best window has 1 term (leftmost: table@0)
      (3L, "big big big x table"),      // window@1 [1,5] has both... 0-based: big@0,1,2 table@4; c=0: [0,4] incl? window 5 → [0,5) covers table@4 ✓ both from c=0
      (4L, "nothing here at all")       // no hits → absent
    ).toDF("doc_id", "text")
    val got = TextAnalysis.searchHighlight(docs, "doc_id", "text",
      "big table", window = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(got == Seq(
      (1L, 1L, 2L, "big y z w table"),
      (2L, 0L, 1L, "table x x x x"),
      (3L, 0L, 2L, "big big big x table")), got.mkString("; "))
  }

  test("search_after pagination: concatenated pages equal the one-shot serve") {
    val docs = corpus()
    val root = Files.createTempDirectory("bm25page").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 8)
    val full = TextAnalysis.bm25ServeTopK(spark, root, "common table",
      k = 40).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full.size == 40)
    // walk 7-row pages through the cursor; the concatenation must be
    // the one-shot ranking, byte for byte
    var cursor: Option[(Long, Long)] = None
    val walked = Iterator.continually {
      val page = TextAnalysis.bm25ServeTopKAfter(spark, root,
        "common table", k = 7, after = cursor).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      cursor = page.lastOption.map { case (id, s) => (s, id) }
      page
    }.takeWhile(_.nonEmpty).take(10).flatten.toSeq
    assert(walked == full, s"paged walk diverged from the one-shot serve")
    // a cursor past the end returns empty, not an error
    val (lastId, lastScore) = full.last
    assert(TextAnalysis.bm25ServeTopKAfter(spark, root, "common table",
      k = 7, after = Some((lastScore, lastId))).count() == 0)
  }

  test("facet counts: distinct matching docs per doc-values bucket") {
    import spark.implicits._
    val docs = corpus()
    val root = Files.createTempDirectory("bm25facet").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 8)
    val docValues = docs.select(col("doc_id"),
      when(col("doc_id") % 2 === 0, "even").otherwise("odd").as("par"))
    // 'rare' matches docs 5,10,...,40 — 4 even, 4 odd; a doc matching
    // BOTH query terms still counts once
    val got = TextAnalysis.bm25FacetCounts(spark, root, "rare rare",
      docValues, "doc_id", "par").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("even", 4L), ("odd", 4L)), got.mkString(","))
    // the full-corpus term facets over everything
    val all = TextAnalysis.bm25FacetCounts(spark, root, "common",
      docValues, "doc_id", "par").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(all == Seq(("even", 20L), ("odd", 20L)))
    // tombstones drop from the counts
    TextAnalysis.deleteBm25Docs(spark, root, Seq(5L))
    val after = TextAnalysis.bm25FacetCounts(spark, root, "rare",
      docValues, "doc_id", "par").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(after == Seq(("even", 4L), ("odd", 3L)))
  }

  test("More-Like-This: tf·idf term selection feeds the plain serve") {
    import spark.implicits._
    val docs = Seq(
      (1L, "zebra zebra common rift"),   // zebra tf2 & rare; rift rare
      (2L, "common common filler data"),
      (3L, "zebra rift data"),
      (4L, "common data data")
    ).toDF("doc_id", "text")
    val root = Files.createTempDirectory("bm25mlt").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 4)
    // source = doc 1's text; with maxQueryTerms=2 the picked terms are
    // the tf·idf top-2: zebra (tf 2 · rare idf) then rift (tf 1 · rare
    // idf beats common's tf 1 · common idf)
    val mlt = TextAnalysis.bm25MoreLikeThis(spark, root,
      "zebra zebra common rift", maxQueryTerms = 2, k = 10)
      .collect().map(_.toString).toSeq
    val expected = TextAnalysis.bm25ServeTopK(spark, root, "zebra rift",
      k = 10).collect().map(_.toString).toSeq
    assert(mlt == expected, s"mlt=$mlt expected=$expected")
    // terms absent from the index never enter the query
    val onlyNoise = TextAnalysis.bm25MoreLikeThis(spark, root,
      "qqq www eee", maxQueryTerms = 3, k = 10)
    assert(onlyNoise.count() == 0)
  }

  test("regexp search: literal-prefix band pruning, full-match semantics, scoring rewrite") {
    import spark.implicits._
    val docs = Seq(
      (1L, "scan span spoon table"),
      (2L, "scan soon noon"),
      (3L, "sun stun unscan")      // unscan must NOT match ^s.*n$... it starts with 'u'
    ).toDF("doc_id", "text")
    val root = Files.createTempDirectory("bm25rx").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 4)
    // prefix extraction: quantified literals drop, leading metas → empty
    assert(TextAnalysis.regexLiteralPrefix("s.*n") == "s")
    assert(TextAnalysis.regexLiteralPrefix("ab*") == "a")
    assert(TextAnalysis.regexLiteralPrefix(".*fix") == "")
    assert(TextAnalysis.regexLiteralPrefix("table") == "table")
    // TOP-LEVEL alternation voids the literal prefix (ADVICE r16 high:
    // "cat|dog" matches "dog" — pruning to [cat, cau) drops every dog)
    assert(TextAnalysis.regexLiteralPrefix("cat|dog") == "")
    assert(TextAnalysis.regexLiteralPrefix("a|b*") == "")
    // ...but an alternation INSIDE a group after the literal does not
    // bypass it, and an escaped pipe is a literal character
    assert(TextAnalysis.regexLiteralPrefix("cat(s|z)") == "cat")
    assert(TextAnalysis.regexLiteralPrefix("s[a|u]n") == "s")
    assert(TextAnalysis.regexLiteralPrefix("""a\|b""") == "a")
    // end-to-end: the top-level alternation must return BOTH branches
    val alt = TextAnalysis.regexpSearch(spark, root, "scan|noon")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(alt == Seq(("noon", 1L), ("scan", 2L)), alt.mkString(","))
    val got = TextAnalysis.regexpSearch(spark, root, "s.*n")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // full-match ^s.*n$: scan(2 docs), span, spoon, soon, sun, stun —
    // NOT table, NOT noon (n≠s start), NOT unscan
    assert(got.toSeq == Seq(("scan", 2L, 2L), ("soon", 1L, 1L),
      ("span", 1L, 1L), ("spoon", 1L, 1L), ("stun", 1L, 1L),
      ("sun", 1L, 1L)), got.mkString(","))
    // the dictionary path read no postings
    val rx = TextAnalysis.regexpSearch(spark, root, "s.*n")
    assert(!rx.inputFiles.exists(_.contains("/postings/")))
    // scoring rewrite equals scoring the expanded set directly: the
    // single-variant pattern 'spoo.' ≡ the exact serve for 'spoon'
    val direct = TextAnalysis.bm25ServeTopK(spark, root, "spoon", 5)
      .collect().map(_.toString).toSeq
    val served = TextAnalysis.bm25ServeRegexpTopK(spark, root, "spoo.", 5)
      .collect().map(_.toString).toSeq
    assert(served == direct)
    // tombstones: corrections keep the dictionary path exact
    TextAnalysis.deleteBm25Docs(spark, root, Seq(2L))
    val afterDel = TextAnalysis.regexpSearch(spark, root, "s.*n")
    assert(afterDel.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("scan", 1L), ("span", 1L), ("spoon", 1L),
        ("stun", 1L), ("sun", 1L)))
    assert(!afterDel.inputFiles.exists(_.contains("/postings/")))
  }

  test("DisMax and minimumShouldMatch serves: max semantics and the msm boundary equalities") {
    val docs = corpus()
    val root = Files.createTempDirectory("bm25dismax").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // DisMax score = the max single-term contribution: for a doc with
    // 'rare' (high idf) plus 'common' (low idf), the dismax score equals
    // its rare-only score
    val rareOnly = rows(TextAnalysis.bm25ServeTopK(spark, root, "rare", 40))
      .toMap
    val dismax = rows(TextAnalysis.bm25ServeTopKDisMax(spark, root,
      "rare common", 40))
    val sumServe = rows(TextAnalysis.bm25ServeTopK(spark, root,
      "rare common", 40)).toMap
    dismax.foreach { case (id, s) =>
      if (rareOnly.contains(id)) {
        assert(s == rareOnly(id),
          s"doc $id: dismax must equal the best single term, got $s vs " +
            s"${rareOnly(id)}")
        assert(s < sumServe(id), "sum must exceed max on a two-term match")
      }
    }
    // msm boundaries: m=1 == the plain serve, m=|q| == the AND serve
    assert(rows(TextAnalysis.bm25ServeTopKMsm(spark, root,
        "rare table", 1, 40)) ==
      rows(TextAnalysis.bm25ServeTopK(spark, root, "rare table", 40)))
    assert(rows(TextAnalysis.bm25ServeTopKMsm(spark, root,
        "rare table", 2, 40)) ==
      rows(TextAnalysis.bm25ServeTopKAnd(spark, root, "rare table", 40)))
    // strictly between: every msm=2 hit matches >= 2 terms (here: only
    // the rare docs match both)
    val m2 = rows(TextAnalysis.bm25ServeTopKMsm(spark, root,
      "rare table", 2, 40))
    assert(m2.nonEmpty && m2.forall(_._1 % 5 == 0))
  }

  test("scored phrase serve: tf = adjacency count, idf doubled for the repeated term") {
    import spark.implicits._
    val docs = Seq(
      (1L, "table table data"),        // 1 adjacency, len 3
      (2L, "table table table"),       // 2 adjacencies (overlap), len 3
      (3L, "table data table"),        // 0 adjacencies
      (4L, "data only row")            // no phrase terms
    ).toDF("doc_id", "text")
    val root = Files.createTempDirectory("bm25pscore").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root,
      nBuckets = 4, positions = true)
    val got = TextAnalysis.bm25ServePhraseTopK(spark, root, "table table",
      k = 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // replicate the arithmetic: N=4, Σlen=12, avg1000=3000;
    // dfc(table)=3 → idf=(4-3+1)*10000//(3+1)=5000, doubled = 10000;
    // norm1000 = 250 + 750*len*1000//3000 = 250+250*len = 1000 (len 3)
    // w(tf) = tf*2200*10000 // (tf*1000 + 1200*1000//1000)
    def w(tf: Long) = tf * 2200 * 10000 / (tf * 1000 + 1200)
    val expected = Seq(2L -> 10000L * w(2), 1L -> 10000L * w(1))
      .sortBy { case (id, s) => (-s, id) }
    assert(got == expected, s"got=$got expected=$expected")
    // matches the count serve's doc set exactly
    val counts = TextAnalysis.phraseServeCount(spark, root, "table table")
      .collect().map(_.getLong(0)).toSeq
    assert(got.map(_._1).sorted == counts.sorted)
  }

  test("wildcard counts stay on the dictionary under live tombstones (VERDICT r15 #6)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha apple table"),
      (2L, "apple apple beta"),
      (3L, "apple track alpha"),
      (4L, "banana beta")
    ).toDF("doc_id", "text")
    val root = Files.createTempDirectory("bm25deadterms").toString
    TextAnalysis.writeBm25Index(docs, "doc_id", "text", root, nBuckets = 4)
    // two delete BATCHES (corrections must accumulate across commits)
    TextAnalysis.deleteBm25Docs(spark, root, Seq(2L))
    TextAnalysis.deleteBm25Docs(spark, root, Seq(3L))
    val pfx = TextAnalysis.prefixSearch(spark, root, "a")
    val got = pfx.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2)))
    // doc 1 is the only live a*-bearing doc: alpha×1, apple×1
    assert(got.toSeq == Seq(("alpha", 1L, 1L), ("apple", 1L, 1L)),
      got.mkString(","))
    // FILE-SET PIN: the serve read dictionary (and corrections) files
    // only — not one postings file, despite two live tombstones
    val pfxFiles = pfx.inputFiles.toSet
    assert(pfxFiles.nonEmpty && !pfxFiles.exists(_.contains("/postings/")),
      s"tombstoned prefix count must stay dictionary-only: $pfxFiles")
    // a fully-dead term drops out entirely (never a zero/negative row)
    assert(!TextAnalysis.prefixSearch(spark, root, "t").collect()
      .map(_.getString(0)).contains("track"))
    // the suffix twin: *a — alpha survives in doc 1, banana and beta
    // in doc 4 (doc 2's beta is tombstoned)
    val sfx = TextAnalysis.suffixSearch(spark, root, "a")
    val sGot = sfx.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2)))
    assert(sGot.toSeq == Seq(("alpha", 1L, 1L), ("banana", 1L, 1L),
      ("beta", 1L, 1L)), sGot.mkString(","))
    assert(!sfx.inputFiles.exists(_.contains("/postings/")),
      "tombstoned suffix count must stay dictionary-only")
    // append carries the corrections forward: new docs count, old
    // tombstones keep subtracting, still no postings read
    TextAnalysis.appendBm25Segment(
      Seq((5L, "apple apple")).toDF("doc_id", "text"), "doc_id", "text",
      root, nBuckets = 4)
    val pfx2 = TextAnalysis.prefixSearch(spark, root, "a")
    assert(pfx2.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq ==
      Seq(("alpha", 1L, 1L), ("apple", 2L, 3L)))
    assert(!pfx2.inputFiles.exists(_.contains("/postings/")))
    // the exactly-once append path carries corrections forward too
    assert(TextAnalysis.appendBm25SegmentExactlyOnce(
      Seq((6L, "alpha")).toDF("doc_id", "text"), "doc_id", "text",
      root, batchId = 1L, nBuckets = 4))
    val pfx3 = TextAnalysis.prefixSearch(spark, root, "a")
    assert(pfx3.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq ==
      Seq(("alpha", 2L, 2L), ("apple", 2L, 3L)))
    assert(!pfx3.inputFiles.exists(_.contains("/postings/")))
    // LEGACY fallback: strip the corrections dir — the serve must fall
    // back to the postings recount and still answer exactly
    val v = graft.sinks.Versioned.currentVersion(spark, root).get
    val dt = new org.apache.hadoop.fs.Path(s"$root/$v/dead_terms")
    dt.getFileSystem(spark.sessionState.newHadoopConf()).delete(dt, true)
    val legacy = TextAnalysis.prefixSearch(spark, root, "a")
    assert(legacy.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq ==
      Seq(("alpha", 2L, 2L), ("apple", 2L, 3L)))
    assert(legacy.inputFiles.exists(_.contains("/postings/")),
      "correction-less deletes must recount from postings")
    // compaction clears tombstones AND corrections; dictionary is exact
    TextAnalysis.compactBm25Index(spark, root, nBuckets = 4)
    val post = TextAnalysis.prefixSearch(spark, root, "a")
    assert(post.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq ==
      Seq(("alpha", 2L, 2L), ("apple", 2L, 3L)))
    assert(!post.inputFiles.exists(_.contains("/postings/")))
  }
}
