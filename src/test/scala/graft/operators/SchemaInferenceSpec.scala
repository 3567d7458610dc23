package graft.operators

import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.PropHelper
import graft.SparkTestBase
import graft.core.TypeLattice

class SchemaInferenceSpec extends AnyFunSuite with SparkTestBase with PropHelper {

  private val cellGen: Gen[String] = Gen.oneOf(
    Gen.choose(0L, 5000000000L).map(_.toString),
    Gen.choose(-1000.0, 1000.0).map(d => f"$d%.3f"),
    Gen.choose(-1000.0, 1000.0).map(d => f"$d%.2f".replace('.', ',')),
    Gen.alphaStr, Gen.const(""), Gen.const("  "), Gen.const(null))

  test("packed byte aggregator ≡ reference State machine (property)") {
    val agg = new SchemaInference.AllColumnsAgg(1)
    forAllG(Gen.listOf(cellGen), Gen.chooseNum(0, 32)) { (cells, cut0) =>
      val expected = TypeLattice.inferColumn(cells.map(Option(_).getOrElse("")))
      val want = expected match {
        case TypeLattice.TInteger => "integer"
        case TypeLattice.TFloat   => "float"
        case TypeLattice.TVarchar => "varchar"
      }
      // sequential fold
      val seqBuf = cells.foldLeft(agg.zero)((b, v) => agg.reduce(b, Row(v)))
      assert(agg.finish(seqBuf) == want, s"seq on $cells")
      // split fold + merge
      val cut = if (cells.isEmpty) 0 else cut0 % (cells.length + 1)
      val (l, r) = cells.splitAt(cut)
      val lb = l.foldLeft(agg.zero)((b, v) => agg.reduce(b, Row(v)))
      val rb = r.foldLeft(agg.zero)((b, v) => agg.reduce(b, Row(v)))
      assert(agg.finish(agg.merge(lb, rb)) == want, s"merge on $cells @ $cut")
    }
  }

  test("typed-column algebra ≡ string fold over Spark's own renderings (property, r22)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StringType
    // the reference verdict for a typed frame: cast every column to
    // string FIRST (Spark's rendering — exactly what the pre-r22
    // implementation folded over), which routes through the exact
    // byte-state fold. coalesce(1) pins the fold's row order.
    def ref(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      SchemaInference.inferTypes(df.select(
        df.columns.map(c => col(c).cast(StringType).as(c)).toIndexedSeq: _*))
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val one = df.coalesce(1)
      assert(SchemaInference.inferTypes(one) == ref(one), s"on ${df.columns.toSeq}")
    }
    // adversarial longs: negatives, int32 overflow (incl. overflow-first
    // — the order-dependent corner that must fall back), all-null
    val longPool = Seq[java.lang.Long](null, 0L, 5L, -3L,
      2147483647L, 2147483648L, 9999999999L)
    val longCases = Seq(
      Seq[java.lang.Long](5L, 7L),                      // clean integer
      Seq[java.lang.Long](2147483648L, 5L),             // overflow FIRST → integer
      Seq[java.lang.Long](5L, 2147483648L),             // overflow later → float
      Seq[java.lang.Long](-3L, 5L), Seq[java.lang.Long](5L, -3L),
      Seq[java.lang.Long](-3L, 2147483648L),            // mixed breakers
      Seq[java.lang.Long](2147483648L, -3L),
      Seq[java.lang.Long](null, null), Seq[java.lang.Long]())
    longCases.foreach(c => check(c.toDF("v")))
    forAllG(org.scalacheck.Gen.listOf(
        org.scalacheck.Gen.oneOf(longPool))) { vs =>
      check(vs.toDF("v"))
    }
    // adversarial doubles: NaN/Inf, scientific-notation ranges, zero
    val dblPool = Seq[java.lang.Double](null, 0.0, -0.0, 1.5, -2.25,
      0.001, 0.0001, 1e7, 9999999.0, -1e8, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity)
    forAllG(org.scalacheck.Gen.listOf(
        org.scalacheck.Gen.oneOf(dblPool))) { vs =>
      check(vs.toDF("v"))
    }
    // decimals: scale 2 (always-float), scale 0 (integral twin incl.
    // overflow), scale 7 (scientific possible → must fall back)
    check(Seq("1.25", "-3.50", "0.00").map(BigDecimal(_)).toDF("v")
      .select(col("v").cast("decimal(10,2)").as("v")))
    check(Seq("5", "2147483648", "-3").map(BigDecimal(_)).toDF("v")
      .select(col("v").cast("decimal(20,0)").as("v")))
    check(Seq("0.0000001", "1.0000000").map(BigDecimal(_)).toDF("v")
      .select(col("v").cast("decimal(20,7)").as("v")))
    // timestamps / dates / booleans: constant varchar
    check(Seq("2020-01-02 03:04:05").toDF("v")
      .select(col("v").cast("timestamp").as("v")))
    check(Seq("2020-01-02").toDF("v").select(col("v").cast("date").as("v")))
    check(Seq(true, false).toDF("v"))
    // mixed frame: every plan in one pass
    val mixed = Seq((1L, 1.5, "x", true))
      .toDF("lng", "dbl", "str", "bool")
      .withColumn("ts", col("dbl").cast("timestamp"))
      .withColumn("dec", col("dbl").cast("decimal(10,2)"))
    check(mixed)
  }

  /** The aggregate the one-job fold replaced: AllColumnsAgg as a Spark
    * UDAF over every column, optionally behind `limit(n)`. */
  private def aggregateVerdicts(df: org.apache.spark.sql.DataFrame,
      limit: Option[Int]): Map[String, String] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.functions.{col, udaf}
    val src = limit.map(df.limit).getOrElse(df)
    val agg = udaf(new SchemaInference.AllColumnsAgg(df.columns.length),
      Encoders.row(df.schema))
    val joined = src.select(agg(df.columns.map(col).toIndexedSeq: _*))
      .head().getString(0)
    df.columns.toSeq.zip(joined.split(",", -1)).toMap
  }

  test("one-job fold ≡ the former aggregate on one partition, full and sampled (property)") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val caseGen = for {
      n <- Gen.chooseNum(0, 40)
      rows <- Gen.listOfN(n, Gen.listOfN(3, cellGen))
      cap <- Gen.chooseNum(1, 45)
    } yield (rows, cap)
    val schema = StructType(Seq("a", "b", "c").map(StructField(_, StringType)))
    // 25 cases, not propRuns: each case runs four Spark actions
    (0L until 25L).flatMap(i =>
      caseGen(Gen.Parameters.default, org.scalacheck.rng.Seed(i))).foreach {
      case (rows, cap) =>
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map(Row.fromSeq(_)), 1), schema)
        assert(SchemaInference.inferTypes(df) == aggregateVerdicts(df, None), s"full on $rows")
        assert(SchemaInference.inferTypesSampled(df, cap.toLong) ==
          aggregateVerdicts(df, Some(cap)), s"sampled $cap on $rows")
    }
  }

  test("the fold merges partition states in partition order") {
    val s = spark; import s.implicits._
    // the first non-blank value decides a sticky verdict: "1.5" in
    // partition 2 makes the column float, whatever partition 5's "abc"
    // arrives as. Partitions 0, 1 and 3 are blank-only.
    val parts = Seq(Seq(" "), Seq(), Seq("1.5"), Seq(""), Seq("7"), Seq("abc"), Seq("2"))
    val df = spark.sparkContext.parallelize(parts, parts.size)
      .flatMap(identity).toDF("v")
    assert(df.rdd.getNumPartitions == parts.size)
    val sequential = TypeLattice.inferColumn(parts.flatten)
    assert(sequential == TypeLattice.TFloat)
    (1 to 5).foreach(_ => assert(SchemaInference.inferTypes(df) == Map("v" -> "float")))
    // the reverse order puts "abc" first: varchar
    val reversed = spark.sparkContext.parallelize(parts.reverse, parts.size)
      .flatMap(identity).toDF("v")
    assert(SchemaInference.inferTypes(reversed) == Map("v" -> "varchar"))
  }

  test("a sampled fold over many partitions folds exactly n rows, in one job") {
    import org.apache.spark.sql.functions.{col, when}
    // 8 partitions of 10 rows; row 37 in partition order is the only
    // non-integer, so the verdict flips exactly when the sample reaches it
    val df = spark.range(0, 80, 1, 8)
      .select(when(col("id") === 37, "abc").otherwise(col("id").cast("string")).as("v"))
    assert(df.rdd.getNumPartitions == 8)
    assert(SchemaInference.inferTypesSampled(df, 37) == Map("v" -> "integer"))
    assert(SchemaInference.inferTypesSampled(df, 38) == Map("v" -> "varchar"))
    assert(SchemaInference.inferTypes(df) == Map("v" -> "varchar"))
    assert(sparkJobs(SchemaInference.inferTypesSampled(df, 38)) == 1)
    assert(sparkJobs(SchemaInference.inferTypes(df)) == 1)
  }

  test("sampled inference of a typed frame reads the fold's first n rows, with no shuffle") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.functions.{col, when}
    // 8 partitions of 10 rows in partition order: the long column
    // overflows int32 at row 37, the double turns sci-rendered at row 20,
    // and the string column breaks at row 55
    val df = spark.range(0, 80, 1, 8).select(
      when(col("id") === 37, 3000000000L).otherwise(col("id")).as("l"),
      when(col("id") === 20, 1e9).otherwise(col("id") * 0.5).as("d"),
      when(col("id") === 55, "abc").otherwise(col("id").cast("string")).as("s"))
    assert(df.rdd.getNumPartitions == 8)
    val rows = df.collect() // partition order
    def shuffleBytes(body: => Unit): Long = {
      val sc = spark.sparkContext
      val bytes = new java.util.concurrent.atomic.AtomicLong
      val listener = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          Option(e.taskMetrics).foreach(m =>
            bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      }
      sc.addSparkListener(listener)
      try { body; sparkJobs(()) } finally sc.removeSparkListener(listener)
      bytes.get
    }
    for (n <- Seq(15, 21, 37, 38, 56, 80)) {
      var got = Map.empty[String, String]
      val bytes = shuffleBytes {
        got = SchemaInference.inferTypesSampled(df, n)
      }
      assert(bytes == 0L, s"n = $n")
      val firstN = spark.createDataFrame(
        java.util.Arrays.asList(rows.take(n): _*), df.schema)
      assert(got == SchemaInference.inferTypes(firstN), s"n = $n")
    }
  }

  test("inferTypes over a real table matches expectations") {
    val types = SchemaInference.inferTypes(
      spark.read.parquet(sf("lineitem"))
        .select("l_orderkey", "l_quantity", "l_returnflag"))
    assert(types == Map(
      "l_orderkey" -> "integer", "l_quantity" -> "float", "l_returnflag" -> "varchar"))
  }

  test("sampled inference agrees with the full fold on homogeneous columns") {
    val df = spark.read.parquet(sf("lineitem"))
      .select("l_orderkey", "l_quantity", "l_returnflag")
    assert(SchemaInference.inferTypesSampled(df, 500) ==
      SchemaInference.inferTypes(df))
  }

  test("hash-sampled inference replays the Sampling.hashUniform subset") {
    val df = spark.read.parquet(sf("lineitem"))
      .select("l_orderkey", "l_quantity")
    val frac = 0.25
    val viaHelper = SchemaInference.inferTypesHashSampled(
      df, org.apache.spark.sql.functions.col("l_orderkey"), frac)
    val manual = SchemaInference.inferTypes(
      Sampling.hashSample(df, "l_orderkey", frac))
    assert(viaHelper == manual)
  }

  test("inferTypesWithFallback: clean sample → no fallback, sampled verdicts") {
    val s = spark; import s.implicits._
    val df = (1 to 300).map(_.toString).toDF("n").coalesce(1)
    val (types, fellBack) = SchemaInference.inferTypesWithFallback(df, 100)
    assert(types == Map("n" -> "integer") && !fellBack)
  }

  test("inferTypesWithFallback: cast-breaking rows past the sample trigger the full fold") {
    val s = spark; import s.implicits._
    // first 150 rows integer-looking, tail is text — a 100-row sample says
    // "integer", the regex-free validation finds cells try_cast refuses,
    // and the exact full fold must win (varchar)
    val rows = (1 to 150).map(_.toString) ++ Seq.fill(50)("abc")
    val df = rows.toDF("v").coalesce(1)
    val (types, fellBack) = SchemaInference.inferTypesWithFallback(df, 100)
    assert(types == Map("v" -> "varchar") && fellBack)
  }

  test("inferTypesWithFallback: cast-safe lattice drift is tolerated (documented divergence)") {
    val s = spark; import s.implicits._
    // "-5" is lattice-varchar (the reference's integer regex is ^[0-9]+$,
    // string.rb quirk parity) but casts to BIGINT fine — the sampled path
    // keeps "integer" because no value would null out. This IS the SURVEY
    // §4 divergence, pinned here so it stays deliberate.
    val rows = (1 to 150).map(_.toString) ++ Seq("-5")
    val df = rows.toDF("v").coalesce(1)
    val (types, fellBack) = SchemaInference.inferTypesWithFallback(df, 100)
    assert(types == Map("v" -> "integer") && !fellBack)
    assert(SchemaInference.inferTypes(df) == Map("v" -> "varchar"))
  }
}
