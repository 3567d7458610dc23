package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic hash-based sampling and dataset splitting. Random-seed
 * sampling (`df.sample`) gives a DIFFERENT subset per run/partitioning;
 * training pipelines need the same row to land in the same split on every
 * engine, every rerun, at every scale — so the assignment is a pure
 * function of the row id: u(id) = ((id + salt)·2654435761) mod 1000000007,
 * uniform enough for splitting and exactly replayable in SQL (plain
 * non-overflowing int64 arithmetic, like the rest of the sketch specs).
 */
object Sampling {

  private val P = graft.functions.HashFunctions.P

  /** Uniform-ish value in [0, P) as a pure function of (id, salt). The id
    * is reduced mod P BEFORE the multiply: (pmod(id, P) + salt) ≲ 1e9 +
    * salt, times 2654435761 stays under Long.Max for any |salt| ≲ 2e9 —
    * so 64-bit hash-derived ids (common in dedup pipelines) never wrap,
    * and the value is congruent to ((id + salt)·2654435761) mod P, i.e.
    * identical to the plain formula wherever the plain formula doesn't
    * overflow (which is what the SQL oracles replay). pmod, not %:
    * Spark's % keeps the sign, so negative ids would fall outside every
    * split range. */
  def hashUniform(id: Column, salt: Long): Column =
    pmod((pmod(id.cast("long"), lit(P)) + lit(salt)) * lit(2654435761L), lit(P))

  /** Keep ~`fraction` of rows, deterministically by id. */
  def hashSample(df: DataFrame, idCol: String, fraction: Double,
      salt: Long = 0L): DataFrame =
    df.filter(hashUniform(col(idCol), salt) < lit((fraction * P).toLong))

  /** Assign train/val/test by cumulative fractions (e.g. 0.8/0.1/0.1). */
  def hashSplit(df: DataFrame, idCol: String,
      trainFrac: Double = 0.8, valFrac: Double = 0.1,
      salt: Long = 0L): DataFrame = {
    val u = hashUniform(col(idCol), salt)
    df.withColumn("split",
      when(u < lit((trainFrac * P).toLong), "train")
        .when(u < lit(((trainFrac + valFrac) * P).toLong), "val")
        .otherwise("test"))
  }

  /**
   * Weighted deterministic Bernoulli sampling: keep row i with
   * probability `baseFraction · w_i / wMax` — the importance-sampling
   * primitive of quality-weighted data mixing (sample high-quality
   * documents at a higher rate, junk at a lower one, without a shuffle).
   * The keep test is pure int64 arithmetic —
   * `u·wMax < ⌊f·P⌋·clamp(w, 0, wMax)` with u = hashUniform(id) — so
   * membership is exactly replayable in SQL, independent of partitioning
   * and engine (the clamp bounds both factors, so products stay ≤ 1e18
   * for wMax ≤ 1e9, enforced — a large NEGATIVE weight would otherwise
   * overflow the product and wrap positive). Weights above wMax saturate
   * at keep-probability `baseFraction`; non-positive weights never match.
   * One codegen'd filter over a narrow projection: the 100 TB plan is a
   * single scan.
   */
  def weightedHashSample(df: DataFrame, idCol: String, weightCol: String,
      wMax: Long, baseFraction: Double = 1.0, salt: Long = 0L): DataFrame = {
    require(wMax > 0 && wMax <= 1000000000L, "wMax must be in (0, 1e9]")
    require(baseFraction >= 0.0 && baseFraction <= 1.0)
    // integral weights only: a silent cast("long") would floor fractional
    // quality scores (0.99 → 0 → never sampled). Callers with float
    // scores pre-scale, e.g. (score*1e6).cast long with wMax = 1e6.
    df.schema(weightCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"weightCol '$weightCol' must be an integral type, got $other — " +
          "pre-scale fractional scores (e.g. (score * 1e6).cast(long), wMax = 1000000)")
    }
    val f = (baseFraction * P).toLong
    df.filter(
      hashUniform(col(idCol), salt) * lit(wMax) <
        lit(f) * greatest(lit(0L), least(col(weightCol).cast("long"), lit(wMax))))
  }

  /**
   * Bottom-k-by-hash sampling (the KMV idea, Bar-Yossef et al., RANDOM'02):
   * per group, keep the k rows with the SMALLEST hash of their id — a
   * deterministic uniform sample without replacement. Unlike reservoir
   * sampling it is order-independent and mergeable (the bottom-k of a
   * union is the bottom-k of the parts' bottom-ks); Catalyst's
   * WindowGroupLimit rule pushes the rank ≤ k filter below the exchange,
   * so each partition ships at most k rows per group — the mergeability
   * is realized in the physical plan, not just the math. Ties are
   * impossible for distinct ids (the hash is injective mod P).
   */
  def bottomKByHash(df: DataFrame, groupCol: String, idCol: String,
      k: Int, salt: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(hashUniform(col(idCol), salt), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .withColumn("sample_rank", col("__rk"))
      .drop("__rk")
  }

  /**
   * Stratified deterministic sampling: a different keep-rate per stratum
   * (the data-mixing primitive — e.g. keep 10% of common-crawl but 100%
   * of wiki). Same purity guarantees as hashSample: membership is a pure
   * function of (id, salt), independent of partitioning, row order, and
   * engine. Strata missing from `fractions` fall back to `defaultFraction`.
   *
   * One narrow projection + filter — no shuffle, no per-stratum pass; the
   * rate lookup compiles to a CASE chain over the (small) strata map, so
   * the 100 TB path is a single codegen'd scan.
   */
  def stratifiedHashSample(df: DataFrame, idCol: String, stratumCol: String,
      fractions: Map[String, Double], defaultFraction: Double = 0.0,
      salt: Long = 0L): DataFrame = {
    require(fractions.nonEmpty, "fractions must be non-empty")
    filterByStratumCutoff(df, idCol, stratumCol, salt,
      fractions.toSeq.map { case (s, f) => s -> (f * P).toLong },
      default = (defaultFraction * P).toLong)
  }

  /** Shared keep-test dispatcher for the per-stratum samplers: the
    * (stratum → cutoff) lookup compiles to a CASE chain up to
    * `RebalanceCaseChainMax` strata (one codegen'd scan, zero joins), and
    * to a broadcast hash join of the K cutoff rows above it — a chain of
    * thousands of branches blows past codegen's method-size limits and
    * falls back to interpreted evaluation, while the broadcast join stays
    * a map-side lookup at any K. Results are identical (SamplingSpec
    * forces both paths). Rows whose stratum is NULL or absent from
    * `cutoffs` keep with probability default/P (the join path unions the
    * unmatched rows back through the default test). */
  private def filterByStratumCutoff(df: DataFrame, idCol: String,
      stratumCol: String, salt: Long, cutoffs: Seq[(String, Long)],
      default: Long, caseChainMax: Int = RebalanceCaseChainMax): DataFrame = {
    val u = hashUniform(col(idCol), salt)
    if (cutoffs.length <= caseChainMax) {
      val cutoff = cutoffs.sortBy(_._1)
        .foldLeft(Option.empty[Column]) { case (acc, (s, c)) =>
          val cond = col(stratumCol) === s
          Some(acc.fold(when(cond, lit(c)))(_.when(cond, lit(c))))
        }.get.otherwise(lit(default))
      df.filter(u < cutoff)
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val rates = cutoffs.toDF("__rb_s", "__rb_cut")
      df.join(broadcast(rates),
          col(stratumCol).cast("string") === col("__rb_s"), "left")
        .filter(u < coalesce(col("__rb_cut"), lit(default)))
        .drop("__rb_s", "__rb_cut")
    }
  }

  /**
   * Mixture rebalancing to equal shares — the source-reweighting shape of
   * mixture-tuned pretraining data (uniform target weights): every
   * stratum is downsampled to the SMALLEST stratum's token mass, so each
   * stratum's EXPECTED kept token mass equals T_min. Per-stratum token
   * totals are one bounded aggregate (K = |strata| rows, collected —
   * bounded by the stratum vocabulary, never the data); keep thresholds
   * ⌊P·T_min/T_s⌋ are computed exactly on the driver (BigInt, so no int64
   * overflow at real token masses where P·T_s exceeds 2^63) and compiled
   * into the same CASE-chain + pure-(id, salt)-hash keep test as
   * stratifiedHashSample. The 100 TB plan: one bounded agg job plus one
   * codegen'd scan; membership is engine/partitioning/rerun-independent.
   * A (degenerate) token-less stratum keeps everything — it contributes
   * no mass to the mixture either way.
   */
  /** Above this stratum count the threshold lookup becomes a broadcast
    * join instead of a CASE chain: a chain of thousands of branches blows
    * past codegen's method-size limits and falls back to interpreted
    * evaluation, while a broadcast hash join of K (stratum, cutoff) rows
    * stays a map-side lookup at any K. Results are identical (the
    * dispatcher pattern of the dedup family). */
  val RebalanceCaseChainMax = 64

  def rebalanceToUniform(df: DataFrame, idCol: String, stratumCol: String,
      textCol: String, salt: Long = 0L,
      caseChainMax: Int = RebalanceCaseChainMax): DataFrame =
    rebalanceToUniformBy(df, idCol, stratumCol,
      TextAnalysis.tokenCount(col(textCol)), salt, caseChainMax)

  /** rebalanceToUniform with a caller-supplied token-count expression —
    * the real-tokenizer variant measures stratum mass in BPE tokens
    * (`Bpe.bpe_count`); identical thresholds and keep test. */
  def rebalanceToUniformBy(df: DataFrame, idCol: String, stratumCol: String,
      tokExpr: org.apache.spark.sql.Column, salt: Long = 0L,
      caseChainMax: Int = RebalanceCaseChainMax): DataFrame = {
    // null-safe collection: a NULL stratum key groups under SQL NULL
    // (dropped — both lookup paths treat it as unseen), and an all-NULL
    // text stratum sums to NULL → token mass 0
    val totals = df.groupBy(col(stratumCol).cast("string").as("__s"))
      .agg(sum(tokExpr.cast("long")).as("__t"))
      .collect().flatMap { r =>
        Option(r.getString(0)).map(s => s -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      }
    require(totals.nonEmpty, "no strata to rebalance")
    // T_min over strata with positive mass: a mass-less stratum must not
    // drag every threshold to zero; its own rows keep whole (threshold P
    // — they contribute no tokens to the mixture either way)
    val pos = totals.map(_._2).filter(_ > 0)
    require(pos.nonEmpty, "no stratum has token mass")
    val tmin = pos.min
    val cutoffs = totals.map { case (s, t) =>
      s -> (if (t <= 0) P else (BigInt(P) * tmin / t).toLong)
    }
    filterByStratumCutoff(df, idCol, stratumCol, salt, cutoffs.toSeq,
      default = 0L, caseChainMax = caseChainMax)
  }

  /**
   * α = 0.5 TEMPERATURE mixture sampling — the multinomial-temperature
   * source reweighting of multilingual/multi-domain pretraining (target
   * share p_s ∝ T_s^α flattens natural proportions without going all the
   * way to uniform; XLM/mBERT popularized α ≈ 0.3–0.7). Realized by
   * downsampling only: keep rate r_s = √(T_min / T_s), which sits
   * EXACTLY between `rebalanceToUniform` (r = T_min/T_s, α = 0) and the
   * natural mixture (r = 1, α = 1): the smallest stratum keeps whole and
   * every stratum keeps MORE than under uniform rebalance (√x ≥ x on
   * [0,1]), with expected kept mass √(T_min·T_s) — the geometric mean.
   *
   * α is fixed at 1/2 deliberately: `sqrt` is IEEE-correctly-rounded in
   * BOTH engines (unlike `pow`/`ln`, which are only faithfully rounded
   * and may differ in the last ulp between libm implementations), so the
   * thresholds ⌊P·√(T_min/T_s)⌋ replay bit-exact in the DuckDB oracle —
   * other α values would trade away the hash-exact check. Same scale
   * shape as rebalanceToUniform: one bounded aggregate (K strata), exact
   * driver thresholds, one codegen'd pure-hash keep scan.
   */
  def temperatureSampleSqrt(df: DataFrame, idCol: String, stratumCol: String,
      textCol: String, salt: Long = 0L,
      caseChainMax: Int = RebalanceCaseChainMax): DataFrame =
    temperatureSampleSqrtBy(df, idCol, stratumCol,
      TextAnalysis.tokenCount(col(textCol)), salt, caseChainMax)

  /** temperatureSampleSqrt with a caller-supplied token-count expression
    * (the BPE-true variant, like rebalanceToUniformBy). */
  def temperatureSampleSqrtBy(df: DataFrame, idCol: String,
      stratumCol: String, tokExpr: org.apache.spark.sql.Column,
      salt: Long = 0L, caseChainMax: Int = RebalanceCaseChainMax): DataFrame = {
    val totals = df.groupBy(col(stratumCol).cast("string").as("__s"))
      .agg(sum(tokExpr.cast("long")).as("__t"))
      .collect().flatMap { r =>
        Option(r.getString(0)).map(s => s -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      }
    require(totals.nonEmpty, "no strata to sample")
    val pos = totals.map(_._2).filter(_ > 0)
    require(pos.nonEmpty, "no stratum has token mass")
    val tmin = pos.min
    val cutoffs = totals.map { case (s, t) =>
      // op order mirrored in the oracle SQL: divide → sqrt → multiply →
      // floor, every step IEEE-correctly-rounded, so both engines land
      // the identical Long
      s -> (if (t <= 0) P
            else math.floor(P.toDouble * math.sqrt(tmin.toDouble / t.toDouble)).toLong)
    }
    filterByStratumCutoff(df, idCol, stratumCol, salt, cutoffs.toSeq,
      default = 0L, caseChainMax = caseChainMax)
  }

  /**
   * Token-budget curation: keep the best-scoring documents until a token
   * budget is spent — the "assemble exactly B tokens of training data,
   * best first" primitive. Selection = the prefix of the global
   * (score desc, id) order whose running token sum stays ≤ `budget`,
   * with `cum_tokens` attached.
   *
   * A naive global-window cumulative sum (`Window.orderBy` with no
   * partition key) pulls the ENTIRE corpus through one task — the
   * classic unpartitioned-window trap. Instead: assign each row a BUCKET
   * with any monotone non-increasing score→bucket mapping (equal scores
   * share a bucket, higher scores never land in a later bucket),
   * cumulative-sum WITHIN each bucket's window partition (parallel), and
   * close the gap with per-bucket token totals prefix-summed on the
   * driver (≤ numPartitions rows — bounded by construction, not by
   * data). The result is the exact global prefix sum at any scale, and
   * replays in SQL as the plain global window.
   *
   * Bucket boundaries: callers that know the score domain pass
   * `scoreRange` (e.g. an integer score in [0, 1e6]) and get equal-width
   * cut points for FREE — zero extra jobs. Otherwise one approxQuantile
   * pass over the (cached, three-column) input derives balanced cuts.
   * Boundary quality only affects parallelism, never correctness: the
   * bucket mapping is monotone by construction, so the worst skew
   * degrades one window partition's size, not the prefix sum. This
   * replaces the round-7 `repartitionByRange` spelling, whose hidden
   * RangePartitioner sampling job + second cache boundary were pure
   * per-run fixed cost (measured: 6.6 s → ~1.4 s calm on the sf0.1
   * bench query).
   */
  def tokenBudgetSample(df: DataFrame, idCol: String, scoreCol: String,
      tokCol: String, budget: Long, partitions: Int = 0,
      scoreRange: Option[(Double, Double)] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.typedlit
    val spark = df.sparkSession
    val np = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    // pruned to the three columns this operator reads — a full-width
    // boundary would materialize text payloads for callers that pass the
    // raw corpus. Cached ONLY when the quantile pass makes two eager
    // actions read it (cuts + totals), and unpersisted after the totals
    // job so no cached copy outlives this call (the final window pass
    // re-derives the pruned projection from the source — one column-
    // pruned scan, not a leak per invocation in a long-lived session)
    val proj = df.select(col(idCol), col(scoreCol), col(tokCol))
    val needCache = scoreRange.isEmpty && np > 1
    val in = if (needCache) proj.cache() else proj
    // descending cut points c_1 ≥ … ≥ c_{np-1}; bucket = |{i : c_i > s}|,
    // so the best scores get bucket 0 and ties always share a bucket.
    // One partition has no cut points, and approxQuantile returns null
    // for an empty probability list
    val cuts: Seq[Double] = scoreRange match {
      case _ if np == 1 => Seq.empty
      case Some((lo, hi)) =>
        (1 until np).map(i => hi - (hi - lo) * i / np)
      case None =>
        in.stat.approxQuantile(scoreCol,
          (1 until np).map(i => 1.0 - i.toDouble / np).toArray, 0.001).toSeq
    }
    val cutsLit = typedlit(cuts)
    // NULL scores sort LAST under the window's desc order (Spark and
    // DuckDB default) — pin them to the last bucket explicitly, because
    // the cut comparison's NULL propagation would otherwise drop them
    // into bucket 0 (first) and corrupt every later bucket's offset
    val bucketed = in.withColumn("__cuts", cutsLit)
      .withColumn("__pid",
        when(col(scoreCol).isNull, lit(np - 1)).otherwise(
          expr(s"aggregate(__cuts, 0, (acc, c) -> acc + IF(c > CAST(`$scoreCol` AS DOUBLE), 1, 0))")))
      .drop("__cuts")
    val totals = bucketed.groupBy(col("__pid"))
      .agg(sum(col(tokCol).cast("long")).as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (needCache) in.unpersist(false)
    val offsets: Map[Int, Long] = (0 until np).map { p =>
      p -> (0 until p).map(totals.getOrElse(_, 0L)).sum
    }.toMap
    val w = Window.partitionBy(col("__pid"))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // offsets ride as a DENSE array literal (keys are 0 until np):
    // element_at on a literal map linear-scans its keys per row — the
    // r22 dsir/lm finding, applied to the np-entry offset table too
    val offsetArr = typedlit((0 until np).map(p => offsets.getOrElse(p, 0L)))
    bucketed
      .withColumn("cum_tokens",
        sum(col(tokCol).cast("long")).over(w) +
          coalesce(element_at(offsetArr, col("__pid") + 1), lit(0L)))
      .filter(col("cum_tokens") <= budget)
      .drop("__pid")
  }
}
