package graft.operators

import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}

/**
 * Distributed CSV type inference (SURVEY.md §2.4 A3): the reference's
 * per-column lattice fold (importer.rb:518-550) carrying the state of
 * every column at once, in ONE Spark job with no exchange — each
 * partition folds its rows into one packed state, and the driver merges
 * the states in partition order, so the verdict is that of one
 * sequential fold over the rows in partition order.
 *
 * Scale note: the reference scans every row; at 100 TB one samples.
 * `inferTypes(df, sampleRows = Some(n))` folds only the first n rows in
 * partition order and stops reading there (documented divergence,
 * SURVEY.md §4).
 */
object SchemaInference {

  /**
   * All-columns lattice fold: Row of N string cells → N packed states.
   * The per-column state (first kind / first-as-breaker / break kind —
   * see TypeLattice.State) packs into ONE byte, so a partition's state is
   * a plain N-byte array — no object graph per merge. Also a Spark
   * `Aggregator` over the same reduce/merge/finish, which SchemaInferenceSpec
   * runs as the reference the one-job fold is pinned against.
   *
   * Byte layout: bits 0-1 first (0 unseen/1 int/2 float/3 varchar),
   * bits 2-3 firstAsBreaker (0 none/2 float/3 varchar),
   * bits 4-5 break_ (same coding).
   */
  class AllColumnsAgg(n: Int) extends Aggregator[Row, Array[Byte], String] {
    import graft.core.TypeLattice.{isFloatLooking, isIntLooking, overflowsInt32}
    import graft.core.Identifier.isBlank

    def zero: Array[Byte] = new Array[Byte](n)

    def reduce(b: Array[Byte], row: Row): Array[Byte] = {
      var i = 0
      while (i < n) {
        update(b, i, if (row.isNullAt(i)) null else row.getString(i))
        i += 1
      }
      b
    }

    /** Folds cell `v` of column `i` into `b`. */
    def update(b: Array[Byte], i: Int, v: String): Unit =
      if (v != null && !isBlank(v)) {
        val s = b(i)
        val first = s & 0x3
        val brk = (s >> 4) & 0x3
        if (first == 0) {
          // classify once: kind + breaker-if-nonfirst
          val (k, breaker) =
            if (isFloatLooking(v)) (2, 2)
            else if (isIntLooking(v)) (1, if (overflowsInt32(v)) 2 else 0)
            else (3, 3)
          b(i) = (k | (breaker << 2)).toByte
        } else if (first == 1 && brk == 0) {
          val breaker =
            if (isFloatLooking(v)) 2
            else if (isIntLooking(v)) { if (overflowsInt32(v)) 2 else 0 }
            else 3
          if (breaker != 0) b(i) = (s | (breaker << 4)).toByte
        } // float/varchar first, or already broken: sticky, nothing to do
      }

    def merge(l: Array[Byte], r: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < n) {
        val a = l(i); val b = r(i)
        if ((a & 0x3) == 0) l(i) = b // left empty → take right wholesale
        else if ((a & 0x3) == 1 && ((a >> 4) & 0x3) == 0) {
          // left is unbroken integer: right's first-as-breaker, else its break
          val rb = { val fb = (b >> 2) & 0x3; if (fb != 0) fb else (b >> 4) & 0x3 }
          if (rb != 0) l(i) = (a | (rb << 4)).toByte
        }
        i += 1
      }
      l
    }

    // comma-joined so the output rides a plain STRING encoder
    def finish(s: Array[Byte]): String = s.map { b =>
      (b & 0x3) match {
        case 0 | 3 => "varchar"
        case 2     => "float"
        case 1     => ((b >> 4) & 0x3) match {
          case 0 => "integer"
          case 2 => "float"
          case _ => "varchar"
        }
      }
    }.mkString(",")

    def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Infer the reference-lattice type of every column in one pass.
    * Returns columnName → "integer" | "float" | "varchar".
    *
    * TYPED-COLUMN ALGEBRA (r22, guide §2.3 "narrower types" applied to
    * the scan itself): the lattice is defined on each cell's STRING
    * rendering, but for a column whose Spark type pins that rendering,
    * the fold's outcome is a function of cheap numeric facts — no cast
    * to string, no regex/scanner, sometimes no read at all:
    *  - date/timestamp/boolean render with '-', ':' or letters in every
    *    row → every cell is varchar-looking → varchar, CONSTANT (the
    *    column prunes out of the scan entirely);
    *  - integral types render `-?[0-9]+`: all nulls → varchar; min ≥ 0
    *    and max ≤ 2^31−1 → integer (no breaker exists in any order);
    *    min < 0 and max ≤ 2^31−1 → varchar (the first value is either
    *    varchar-looking itself or an unbroken-int later broken by the
    *    first negative; float-looking renderings don't exist) — each
    *    verdict ORDER-INDEPENDENT, so one min/max/count aggregate
    *    decides; the one order-dependent corner (an overflow value that
    *    may or may not be the column's FIRST value, importer.rb:544 vs
    *    :527) falls back to the exact string fold;
    *  - double/float render via Java toString: plain `-?d+.d+` exactly
    *    when the value is 0 or 1e-3 ≤ |v| < 1e7 and finite (else
    *    scientific/NaN/Infinity → varchar-looking). All-safe → every
    *    cell float-looking → float (sticky from the first value in any
    *    order); any unsafe value → fall back;
    *  - decimal(p, s): s = 0 renders like integral (digits only, minus
    *    sign) → the integral rule incl. the overflow corner; 1 ≤ s ≤ 6
    *    renders plain with a '.' in every row (BigDecimal.toString goes
    *    scientific only when the adjusted exponent < −6, impossible at
    *    s ≤ 6) → float if any non-null else varchar; s ≥ 7 falls back;
    *  - string (the CSV import path) and anything else: the exact
    *    byte-state fold, unchanged.
    * The numeric gates and the string-column fold run as TWO OVERLAPPED
    * actions, not one combined aggregate: a Scala fold mixed with
    * declarative min/max in one aggregate drops the whole row path out
    * of codegen (measured 1.08 s combined vs 0.31 + 0.40 split at
    * sf0.1), each action scans only its own columns (columnar parquet —
    * no duplicate IO), and they are independent, so they overlap on a
    * two-thread pool (guide §2.6) — wall ≈ max, not sum. Both are
    * [[foldInOrder]] passes, so with a sample they read the same first n
    * rows. CSV-import frames (all string) take only the one-job fold
    * ([[foldStrings]]).
    * SchemaInferenceSpec pins algebra ≡ fold per type on adversarial
    * values (overflows, negatives, NaN/Inf, tiny/huge doubles,
    * all-null).
    */
  def inferTypes(df: DataFrame, sampleRows: Option[Long] = None): Map[String, String] = {
    import org.apache.spark.sql.types._
    // clamp: limit takes an Int; a >2^31 cap means "effectively unbounded"
    val cap = sampleRows.map(n => math.min(n, Int.MaxValue.toLong).toInt)
    val fields = df.schema.fields.toIndexedSeq

    sealed trait Plan
    case object ConstVarchar extends Plan            // no read needed
    case object IntegralGate extends Plan            // count/min/max
    case object FloatingGate extends Plan            // count/unsafe flag
    case object DecimalFloatGate extends Plan        // count only
    case object StringFold extends Plan              // exact UDAF fold

    val plans: Map[String, Plan] = fields.map { f =>
      f.name -> (f.dataType match {
        case DateType | TimestampType | TimestampNTZType | BooleanType =>
          ConstVarchar
        case ByteType | ShortType | IntegerType | LongType => IntegralGate
        case d: DecimalType if d.scale == 0 => IntegralGate
        case d: DecimalType if d.scale >= 1 && d.scale <= 6 =>
          DecimalFloatGate
        case DoubleType | FloatType => FloatingGate
        case _ => StringFold
      })
    }.toMap

    val stringCols = fields.map(_.name).filter(plans(_) == StringFold)
    // the typed-column gate: one decimal(38,0) per gated column, null
    // exactly where the value is, whose count/min/max decide the verdict —
    // the integral value itself, 1 for a floating value whose rendering
    // could turn sci/NaN/Inf (else 0), and 0 for a scaled decimal
    val gated = fields.filter(f => plans(f.name) match {
      case IntegralGate | DecimalFloatGate | FloatingGate => true
      case _ => false
    })
    val gateCols = gated.map { f =>
      val c = col(f.name)
      (plans(f.name) match {
        case IntegralGate => c
        case DecimalFloatGate => when(c.isNotNull, 0)
        case _ => when(c.isNotNull,
          when(isnan(c) || abs(c) === Double.PositiveInfinity ||
            (c =!= 0.0 && (abs(c) < 1e-3 || abs(c) >= 1e7)), 1).otherwise(0))
      }).cast("decimal(38,0)")
    }
    def foldOver(colNames: Seq[String]): Map[String, String] = {
      val strSrc = colNames.map(c => col(c).cast(StringType).as(c))
      val joined = foldStrings(df.select(strSrc.toIndexedSeq: _*), cap)
      colNames.zip(joined.split(",", -1)).toMap
    }

    val verdicts = scala.collection.mutable.Map[String, String]()
    fields.foreach(f =>
      if (plans(f.name) == ConstVarchar) verdicts(f.name) = "varchar")

    // the two independent jobs, overlapped when both exist (§2.6):
    // string fold on its own thread, gates on this one
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val foldF: Option[Future[Map[String, String]]] =
      if (stringCols.isEmpty) None
      else if (gated.isEmpty) Some(Future.successful(foldOver(stringCols)))
      else Some(Future(foldOver(stringCols))(
        scala.concurrent.ExecutionContext.global))

    if (gated.nonEmpty) {
      // the same rows the string fold reads, through the same chain
      val r = foldInOrder(df.select(gateCols: _*), cap)(
        new Ranges(gated.length))(_.add(_))(_.merge(_))
      val int32Max = java.math.BigDecimal.valueOf(Int.MaxValue.toLong)
      val fallbackCols = gated.indices.filter { i =>
        val c = gated(i).name
        plans(c) match {
          case _ if r.n(i) == 0L => verdicts(c) = "varchar"; false
          case IntegralGate =>
            if (r.hi(i).compareTo(int32Max) <= 0) {
              verdicts(c) =
                if (r.lo(i).signum() >= 0) "integer" else "varchar"
              false
            } else true // overflow present: order-dependent corner
          case DecimalFloatGate => verdicts(c) = "float"; false
          case _ =>
            if (r.hi(i).signum() == 0) { verdicts(c) = "float"; false }
            else true // sci/NaN/Inf rendering possible: exact fold
        }
      }.map(gated(_).name)
      // rare second pass: the exact fold over just the corner columns
      if (fallbackCols.nonEmpty) verdicts ++= foldOver(fallbackCols)
    }
    foldF.foreach(f => verdicts ++= Await.result(f, Duration.Inf))
    fields.map(f => f.name -> verdicts(f.name)).toMap
  }

  /** Folds the rows of `frame` in ONE Spark job with no exchange, run as
    * a tracked SQL execution so query listeners see it: each partition
    * folds its rows into one state from `zero` (at most one state per
    * partition reaches the driver), and the driver merges the states in
    * partition order. `sampleRows = Some(n)` folds only the first n rows
    * in partition order: the partitions are chained in index order into
    * one task, which stops reading after n rows, so the cost stays flat
    * in input size and every fold of one frame sees the same rows. */
  private def foldInOrder[S: scala.reflect.ClassTag](frame: DataFrame,
      sampleRows: Option[Int])(zero: => S)(update: (S, InternalRow) => Unit)
      (merge: (S, S) => S): S = {
    val qe = frame.queryExecution
    val states = SQLExecution.withNewExecutionId(qe, Some("inferTypes")) {
      val rows = qe.toRdd
      val src =
        if (sampleRows.isEmpty) rows
        else rows.coalesce(1, shuffle = false, Some(InPartitionOrder))
      src.mapPartitions { all =>
        val s = zero
        sampleRows.fold(all)(all.take).foreach(update(s, _))
        Iterator.single(s)
      }.collect()
    }
    states.foldLeft(zero)(merge)
  }

  /** The lattice fold over an all-string frame ([[foldInOrder]]). Returns
    * [[AllColumnsAgg.finish]]'s comma-joined verdicts. */
  private def foldStrings(strs: DataFrame, sampleRows: Option[Int]): String = {
    val agg = new AllColumnsAgg(strs.columns.length)
    val width = strs.columns.length
    agg.finish(foldInOrder(strs, sampleRows)(agg.zero) { (b, r) =>
      var i = 0
      while (i < width) {
        agg.update(b, i, if (r.isNullAt(i)) null else r.getUTF8String(i).toString)
        i += 1
      }
    }(agg.merge))
  }

  /** Per column of an all-decimal(38,0) frame: the count of non-null
    * values and their min and max — the typed-column gate's state. */
  private final class Ranges(width: Int) extends Serializable {
    val n = new Array[Long](width)
    val lo = new Array[java.math.BigDecimal](width)
    val hi = new Array[java.math.BigDecimal](width)

    def add(r: InternalRow): Unit = {
      var i = 0
      while (i < width) {
        if (!r.isNullAt(i)) {
          val v = r.getDecimal(i, 38, 0).toJavaBigDecimal
          n(i) += 1
          if (lo(i) == null || v.compareTo(lo(i)) < 0) lo(i) = v
          if (hi(i) == null || v.compareTo(hi(i)) > 0) hi(i) = v
        }
        i += 1
      }
    }

    def merge(o: Ranges): Ranges = {
      for (i <- 0 until width if o.n(i) > 0) {
        n(i) += o.n(i)
        if (lo(i) == null || o.lo(i).compareTo(lo(i)) < 0) lo(i) = o.lo(i)
        if (hi(i) == null || o.hi(i).compareTo(hi(i)) > 0) hi(i) = o.hi(i)
      }
      this
    }
  }

  /** Coalesces every partition into one, in partition index order (the
    * default coalescer groups by preferred location first). */
  private object InPartitionOrder extends PartitionCoalescer with Serializable {
    def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] = {
      val group = new PartitionGroup()
      group.partitions ++= parent.partitions
      Array(group)
    }
  }

  /** Default row cap for import-path inference (SURVEY.md §4 documented
    * divergence: the reference full-scans at 2k rows, importer.rb:518-550;
    * at 100 TB a full regex fold per import is the wrong plan). 100k rows
    * classify any realistic column distribution; the cap makes inference
    * cost flat in input size (the fold stops reading after the cap). */
  val DefaultImportSampleRows = 100000L

  /** Sampled inference for the import path: fold over the first
    * `sampleRows` rows in partition order only. The fold's one task reads
    * the partitions in order and stops after `sampleRows` rows, so a
    * 100 TB table costs the same as a 100 MB one. Head-of-file biased by
    * construction — use
    * [[inferTypesHashSampled]] when the input is known to be
    * order-correlated (e.g. sorted by the very column being inferred). */
  def inferTypesSampled(df: DataFrame,
      sampleRows: Long = DefaultImportSampleRows): Map[String, String] =
    inferTypes(df, Some(sampleRows))

  /** Deterministic unbiased sampled inference: keeps rows whose mod-P
    * multiplicative hash of `rowKey` falls below `fraction`·P (the exact
    * sampling spec of [[graft.operators.Sampling.hashUniform]], so any
    * engine replays the same subset bit-for-bit). One full scan, but the
    * regex fold — the actual cost at scale — runs on only ~fraction of
    * rows; the rest short-circuit on the codegen'd hash compare. */
  def inferTypesHashSampled(df: DataFrame, rowKey: org.apache.spark.sql.Column,
      fraction: Double): Map[String, String] =
    inferTypes(df.filter(
      Sampling.hashUniform(rowKey, salt = 0L) <
        lit((fraction * graft.functions.HashFunctions.P).toLong)))

  /** Sampled inference with full-data validation and full-scan fallback
    * ("sample N rows + fall back", SURVEY.md §4). Strategy:
    *  1. fold the lattice over `sampleRows` rows (flat cost);
    *  2. validate the verdicts against ALL rows with one regex-free
    *     codegen'd pass — count non-blank cells that `try_cast` refuses
    *     under the sampled type (cheap: a cast attempt, not four regex
    *     matches per cell);
    *  3. if any column miscasts, fall back to the exact full fold.
    * Returns (types, fellBack). The common case (sample was right) costs
    * one cheap scan instead of the regex fold; the worst case costs the
    * reference's full fold plus the two cheaper passes. */
  def inferTypesWithFallback(df: DataFrame,
      sampleRows: Long = DefaultImportSampleRows): (Map[String, String], Boolean) = {
    val sampled = inferTypesSampled(df, sampleRows)
    val checked = sampled.toSeq.filter(_._2 != "varchar")
    if (checked.isEmpty) return (sampled, false)
    val miscastCols = checked.map { case (c, tpe) =>
      val cell = col(c).cast(StringType)
      val castOk = tpe match {
        case "integer" => expr(s"try_cast(cast(`$c` AS STRING) AS BIGINT)").isNotNull
        case _ =>
          expr(s"try_cast(translate(cast(`$c` AS STRING), ',|', '..') AS DOUBLE)").isNotNull
      }
      // blank cells are lattice-invisible (Identifier.isBlank = no char
      // passes Character.isWhitespace) — match that exactly with
      // \p{javaWhitespace} (regex \s is ASCII-only: a U+3000-only cell
      // would count as a miscast and force a spurious full-fold fallback;
      // trim() was worse still, stripping only spaces)
      sum(when(cell.isNotNull && cell.rlike("[^\\p{javaWhitespace}]") && !castOk, 1L)
        .otherwise(0L)).as(c)
    }
    val miscasts = df.select(miscastCols.toIndexedSeq: _*).head()
    val anyMiscast = (0 until miscasts.length).exists(i => miscasts.getLong(i) > 0L)
    if (anyMiscast) (inferTypes(df), true) else (sampled, false)
  }

  /** Spark DataType for a reference-lattice type name (SURVEY.md §1.4). */
  def toSparkType(latticeName: String): DataType = latticeName match {
    case "integer" => LongType
    case "float"   => DoubleType
    case _         => StringType
  }

  /** Cast string columns of `df` per the inferred lattice (comma/pipe
    * decimal separators normalized to '.' before the double cast, matching
    * the float regex that admitted them — importer.rb:528).
    *
    * try_cast, not cast: the lattice's sticky states admit later values
    * that don't parse (float never demotes; a first-value bigint stays
    * "integer"), and under Spark 4's default ANSI mode a plain cast would
    * THROW on them mid-import. The reference's semantics are null-on-
    * failure, which try_cast restores. */
  def applyInferredTypes(df: DataFrame, types: Map[String, String]): DataFrame = {
    val cols = df.columns.map { c =>
      types.getOrElse(c, "varchar") match {
        case "integer" => expr(s"try_cast(`$c` AS BIGINT)").as(c)
        case "float" =>
          expr(s"try_cast(translate(`$c`, ',|', '..') AS DOUBLE)").as(c)
        case _ => col(c).as(c)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }
}
