package graftbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One measured operation of a workload. */
final case class Op(kind: String, ms: Double, main: Boolean)

/** What every workload shares: arguments, the session, the op log, checks. */
final class Ctx(val args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val traced: Boolean = args("trace") == "1"
  val inputs: File = new File(args("inputs"))
  val scratch: File = new File(args("scratch"))
  val cores: Int = args("cores").toInt
  /**
   * Whole cycles per run: --seconds over the workload's nominal cycle
   * time. A run does a fixed amount of work, so every run holds the same
   * mix of operations and a faster engine finishes sooner.
   */
  val cycles: Int = math.max(1, math.round(seconds / args("cycle-seconds").toDouble).toInt)

  /** Set once warm-up is done; each op then runs as a root span. */
  @volatile var tracer: Tracer = _
  private val log = mutable.ArrayBuffer.empty[Op]
  private var attempted0 = 0L
  private var failed0 = 0L
  /** Named results that are not latencies: counts, ratios, sizes. */
  val named = mutable.LinkedHashMap.empty[String, Double]
  /** Engine defects found and left standing: name -> what the probe saw. */
  val knownDefects = mutable.LinkedHashMap.empty[String, String]

  def attempted: Long = synchronized(attempted0)
  def failed: Long = synchronized(failed0)
  def ops: Seq[Op] = synchronized(log.toList)

  /**
   * Runs one operation: times `body`, then checks its result untimed.
   * A throw or a failed check counts the operation as failed; it stays
   * out of the latency log but in `attempted` and `failed`. `main` ops
   * make op_ms_mean. `record` false runs a warm-up: checked and counted,
   * never timed.
   */
  def op[T](kind: String, main: Boolean = true, record: Boolean = true,
      what: String = "")(body: => T)(check: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    val res = try Right(if (tracer == null) body else tracer.span(kind)(body))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case e: Throwable => Some(s"check threw ${e.getMessage}") }
    }
    synchronized {
      attempted0 += 1
      verdict match {
        case Some(cause) =>
          failed0 += 1
          System.err.println(s"FAILED $kind $what: ${cause.take(500)}")
        case None => if (record) log += Op(kind, ms, main)
      }
    }
    res.toOption.filter(_ => verdict.isEmpty)
  }

  /**
   * Probes a known engine defect once, untimed and outside `attempted`.
   * `probe` returns the failure it sees, or None once the defect is fixed.
   * The workload keeps the defect's input out of its timed ops, so that
   * `correct` speaks for the paths that work, and this probe keeps the
   * defect on every run's `known_defects` line.
   */
  def knownDefect(name: String)(probe: => Option[String]): Unit = {
    val seen = try probe catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    knownDefects(name) = seen.fold("not reproduced")(c => s"reproduced: ${c.take(300)}")
    seen.foreach(c => System.err.println(s"KNOWN DEFECT $name: ${c.take(500)}"))
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(args)
    val load0 = loadAvg()
    val workload: Workload = ctx.workload match {
      case "import_export" => new ImportExport(ctx)
      case "corpus_curate" => new CorpusCurate(ctx)
      case "search_serve" => new SearchServe(ctx, ingest = false)
      case "search_ingest" => new SearchServe(ctx, ingest = true)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Set-up: the session's cold start plus the engine's own build work.
    val s0 = System.nanoTime()
    val spark = Session.start(ctx)
    val sessionMs = (System.nanoTime() - s0) / 1e6
    val b0 = System.nanoTime()
    workload.setup(spark)
    val buildMs = (System.nanoTime() - b0) / 1e6
    val tracer = new Tracer(spark, ctx.traced)
    val w0 = System.nanoTime()
    workload.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    ctx.tracer = tracer
    val t0 = System.nanoTime()
    (1 to ctx.cycles).foreach(_ => workload.cycle())
    val measuredS = (System.nanoTime() - t0) / 1e9
    workload.finish(tracer)
    tracer.drain()

    val host = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "local_n" -> ctx.cores.toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "load_start" -> load0, "load_end" -> loadAvg(),
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "warmup_s" -> f"$warmupS%.3f", "measured_s" -> f"$measuredS%.3f")
    println(Json.obj(Seq("host" -> Json.strMap(host))))
    println(Json.obj(Seq("setup_ms" -> Json.obj(Seq("session" -> Json.num(sessionMs),
      "build" -> Json.num(buildMs))))))
    println(Json.obj(Seq("ops" -> Json.obj(ctx.ops.groupBy(_.kind).toSeq.sortBy(_._1).map {
      case (k, os) => k -> Json.obj(Seq("n" -> Json.num(os.size),
        "ms_p50" -> Json.num(Stats.median(os.map(_.ms))),
        "ms_sum" -> Json.num(os.map(_.ms).sum))) }))))

    if (ctx.knownDefects.nonEmpty) println(Json.obj(Seq("known_defects" ->
      Json.obj(ctx.knownDefects.toSeq.map { case (k, v) => k -> Json.str(v) }))))

    val main = ctx.ops.filter(_.main).map(_.ms)
    val n = main.size
    // the tail is the highest percentile with at least ten samples beyond it
    val tail = if (n < 20) Seq.empty else {
      val p = (100 * (n - 10)) / n
      Seq("percentile" -> Json.num(p), "ms" -> Json.num(Stats.pct(main, p)))
    }
    println(Json.obj(Seq("tail" -> Json.obj(Seq("samples" -> Json.num(n)) ++ tail))))
    val metrics: Seq[(String, Double, String)] =
      if (!ctx.traced) Seq(
        ("setup_s", (sessionMs + buildMs) / 1000, "s"),
        ("op_ms_mean", Stats.mean(main), "ms"),
        ("work_per_s", workload.workPerS, "1/s"))
      else Layers.report(ctx, tracer)
    ctx.named("op_ms_p50") = Stats.median(main)
    if (!ctx.traced) println(Json.obj(Seq("named" -> Json.obj(ctx.named.toSeq.map {
      case (k, v) => k -> Json.num(v) }))))
    val correct = ctx.failed == 0 && n > 0
    println(Json.obj(Seq(
      "correct" -> Json.bool(correct),
      "attempted" -> Json.num(ctx.attempted),
      "failed" -> Json.num(ctx.failed),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    System.out.flush()
    spark.stop()
    System.exit(0)
  }

  private def loadAvg(): String =
    try new String(Files.readAllBytes(Path.of("/proc/loadavg"))).split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }
}

object Session {
  def start(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", ctx.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(ctx.scratch, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(ctx.scratch, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(s)
    s
  }
}

/** A workload: set-up, one warm-up cycle, the timed loop, end checks. */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** One untimed cycle, so JIT, codegen and caches are warm. */
  def warmup(): Unit
  /** One measured cycle: the unit of work the run repeats. */
  def cycle(): Unit
  /** Checks that need the whole run, such as the ingest end state. */
  def finish(tr: Tracer): Unit = ()
  /** The workload's throughput: bulk rows, docs or serves per second. */
  def workPerS: Double
}

object Stats {
  /** Interpolated median: the mean of the middle two of an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""; case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"; case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def strMap(m: Map[String, String]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> str(v) })

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def read(f: File): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(f)

  /** Reads a JSON-lines file into Jackson trees. */
  def lines(f: File): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(mapper.readTree).toVector finally src.close()
  }
}
