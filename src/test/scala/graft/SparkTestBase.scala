package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for specs (one JVM-wide session, reused). */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(name: String): String = s"/root/testdata/sf0.001/$name.parquet"

  private val suiteTempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh directory under `java.io.tmpdir`, deleted with everything in
    * it once the suite has run. */
  def suiteTempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    suiteTempDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try suiteTempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()

  /** Every physical node of a plan, DESCENDING through the wrappers a
    * naive `plan.collect` stops at: AdaptiveSparkPlanExec (AQE hides
    * the whole query under a childless root — a structural assert on
    * the raw executedPlan of an AQE query is VACUOUS), query stages,
    * reused exchanges/subqueries, and cached-plan boundaries
    * (InMemoryTableScan's relation). Plan-audit specs must use this,
    * not `collect`, for node-type assertions. */
  def allPlanNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case other => other.children
    }
    p +: kids.flatMap(allPlanNodes)
  }

  /** `df`'s `explain("formatted")` text with everything that changes
    * from run to run replaced by a fixed token: expression ids, plan and
    * RDD ids, lambda variable names, source positions of RDD call sites,
    * paths under the temp dir, and UUIDs (segment dirs, part files). Two
    * builds of the same plan over equal data normalize to the same
    * string. */
  def normalizedPlan(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.ExplainMode
    val tmp = java.util.regex.Pattern.quote(
      new java.io.File(System.getProperty("java.io.tmpdir")).getCanonicalPath)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      .replaceAll(s"(file:)?$tmp/[^\\s,\\]\\)]*", "<tmp>")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}",
        "<uuid>")
      .replaceAll("#\\d+", "#N")
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("lambda (\\w)_\\d+", "lambda $1_N")
      .replaceAll(" at \\S+\\.scala:\\d+", " at <src>")
  }

  /** Spark jobs started while `body` runs, counted by a listener. The
    * listener bus delivers events in order, so once a sentinel job run
    * afterwards has been seen, every job of `body` has been too. */
  def sparkJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "sentinel", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000
      while (!seen.contains(sentinel) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(seen.contains(sentinel), "listener bus did not deliver the sentinel job")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.registerAll(s)
    s
  }
}
