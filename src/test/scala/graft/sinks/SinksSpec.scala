package graft.sinks

import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.geo.{Coord, Geometry, Point => GPoint}
import graft.functions.{GeoFunctions => G}

class SinksSpec extends AnyFunSuite with SparkTestBase {

  private def tmpDir: String = suiteTempDir("graft_export_")

  private lazy val geoDf = {
    import spark.implicits._
    spark.range(5).toDF("id")
      .withColumn("name", concat(lit("row"), col("id")))
      .withColumn("the_geom", G.st_point(col("id").cast("double"), col("id").cast("double") * 2))
  }

  test("CSV export round trip (S11)") {
    val r = Exporter.exportCsv(geoDf.drop("the_geom"), "t1", tmpDir)
    assert(r.importType == ".csv")
    val zf = new ZipFile(r.path)
    val entries = zf.entries().asScala.map(_.getName).toSeq
    assert(entries == Seq("t1.csv"))
    val text = new String(zf.getInputStream(zf.getEntry("t1.csv")).readAllBytes())
    zf.close()
    assert(text.linesIterator.next() == "id,name")
    assert(text.linesIterator.size == 6)
  }

  test("sharded CSV export: executor-zipped shards + manifest; union == funnel archive") {
    val df = spark.range(0, 97).toDF("id")
      .withColumn("name", concat(lit("n"), col("id")))
    val dir = tmpDir
    val r = Exporter.exportCsvSharded(df, "sh", shards = 4, dir)
    assert(r.rows == 97)
    assert(r.shardPaths.length == 4)
    // manifest records every shard and the total
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(r.manifestPath).toUri.getPath)))
    assert(manifest.contains("\"rows\":97"))
    assert((0 until 4).forall(i => manifest.contains(f"sh-$i%05d.zip")))
    // each shard is independently importable (own header), and the union
    // of all shards is exactly the single-archive content
    val rows = r.shardPaths.flatMap { p =>
      val zf = new ZipFile(new org.apache.hadoop.fs.Path(p).toUri.getPath)
      val entries = zf.entries().asScala.toSeq
      assert(entries.length == 1)
      val text = new String(zf.getInputStream(entries.head).readAllBytes())
      zf.close()
      val lines = text.linesIterator.toSeq
      assert(lines.head == "id,name")
      lines.tail
    }
    val single = Exporter.exportCsv(df, "sh_one", dir)
    val zf = new ZipFile(single.path)
    val singleLines = new String(zf.getInputStream(zf.getEntry("sh_one.csv"))
      .readAllBytes()).linesIterator.toSeq
    zf.close()
    assert(rows.sorted == singleLines.tail.sorted)
  }

  test("KMZ export contains doc.kml with placemarks (S12)") {
    val r = Exporter.exportKml(geoDf, "t2", dir = tmpDir)
    assert(r.importType == ".kml" && r.path.endsWith(".kmz"))
    val zf = new ZipFile(r.path)
    val text = new String(zf.getInputStream(zf.getEntry("doc.kml")).readAllBytes())
    zf.close()
    assert(text.contains("<Placemark>"))
    assert(text.split("<Placemark>").length == 6) // 5 placemarks
    assert(text.contains("<Point><coordinates>2.0,4.0</coordinates></Point>"))
    assert(text.contains("""<Data name="name"><value>row3</value></Data>"""))
  }

  test("SHP export round-trips through our own reader (S13 + S8)") {
    val r = Exporter.exportShp(geoDf, "t3", dir = tmpDir)
    assert(r.importType == ".shp")
    // unzip and re-read with the Shapefile source
    val x = graft.sources.Archive.extract(r.path)
    try {
      val back = graft.sources.Shapefile.read(spark,
        x.all.find(_.getName.endsWith(".shp")).get.getPath)
      assert(back.count() == 5)
      assert(back.columns.toSet == Set("id", "name", "the_geom"))
      val row = back.filter(col("id") === 2)
        .select(G.st_astext(col("the_geom")), col("name")).head()
      assert(row.getString(0) == "POINT(2 4)")
      assert(row.getString(1) == "row2")
    } finally graft.sources.Archive.cleanup(x.dir)
  }

  test("DBF writer/reader round trip incl. N/D/L types (S9)") {
    val fields = Seq(
      DbfWriter.FieldSpec("id", 'N', 10, 0),
      DbfWriter.FieldSpec("price", 'N', 12, 2),
      DbfWriter.FieldSpec("day", 'D', 8, 0),
      DbfWriter.FieldSpec("ok", 'L', 1, 0),
      DbfWriter.FieldSpec("label", 'C', 20, 0))
    val recs = Seq(
      Seq(7L, new java.math.BigDecimal("12.34"), java.sql.Date.valueOf("2020-05-06"),
        java.lang.Boolean.TRUE, "hello"),
      Seq(8L, null, null, null, "world"))
    val bytes = DbfWriter.write(fields, recs)
    val parsed = graft.sources.Shapefile.parseDbf(bytes,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(parsed.fields.map(_.name) == Seq("id", "price", "day", "ok", "label"))
    assert(parsed.records.length == 2)
    val r0 = parsed.records.head
    assert(r0(0) == 7L)
    assert(r0(1).asInstanceOf[java.math.BigDecimal].doubleValue() == 12.34)
    assert(r0(2) == java.sql.Date.valueOf("2020-05-06"))
    assert(r0(3) == java.lang.Boolean.TRUE)
    assert(r0(4) == "hello")
    val r1 = parsed.records(1)
    assert(r1(1) == null && r1(2) == null && r1(3) == null)
  }

  test("catalog sink: staging + rename + collision + rollback (D1/D2/D6)") {
    val s = spark
    import s.implicits._
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val r1 = CatalogTableSink.write(spark, df, "sink_test")
    assert(r1.table == "sink_test" && r1.rows == 2)
    val r2 = CatalogTableSink.write(spark, df, "sink_test")
    assert(r2.table == "sink_test_1") // D1 collision suffix
    // no staging leftovers
    assert(!CatalogTableSink.existingTables(spark).exists(_.startsWith("importing_")))
    spark.sql("DROP TABLE sink_test"); spark.sql("DROP TABLE sink_test_1")
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(sf("orders")).select("o_orderkey", "o_totalprice")
    CatalogTableSink.writeBucketed(spark, li, "b_lineitem", "l_orderkey", 8)
    CatalogTableSink.writeBucketed(spark, o, "b_orders", "o_orderkey", 8)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // the shuffle was paid at write time: no Exchange on either side
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(800))
      assert(joined.count() == li.count()) // every lineitem has its order
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }

  test("postgres sink plan + rollback via recording executor") {
    val executed = Seq.newBuilder[String]
    val exec = new PostgresSink.SqlExecutor {
      def execute(sql: String): Unit = executed += sql
      def tableNames(prefix: String): Seq[String] = Seq("world", "world_1")
    }
    val name = PostgresSink.write(geoDf, "world", exec,
      load = staging => executed += s"-- COPY INTO $staging", runId = "r1")
    assert(name == "world_2") // collision: world, world_1 exist
    val stmts = executed.result()
    assert(stmts.head == """CREATE TABLE "importing_r1_world_2" ("id" bigint, "name" text, "the_geom" geometry(Geometry,4326))""")
    assert(stmts.contains("""ALTER TABLE "importing_r1_world_2" RENAME TO "world_2""""))
    assert(stmts.last == """CREATE INDEX "world_2_the_geom_gist" ON "world_2" USING GIST (the_geom)""")

    // failure in load → staging dropped, error propagates
    val executed2 = Seq.newBuilder[String]
    val exec2 = new PostgresSink.SqlExecutor {
      def execute(sql: String): Unit = executed2 += sql
      def tableNames(prefix: String): Seq[String] = Seq.empty
    }
    intercept[RuntimeException] {
      PostgresSink.write(geoDf, "boom", exec2,
        load = _ => throw new RuntimeException("load failed"), runId = "r2")
    }
    assert(executed2.result().last == """DROP TABLE IF EXISTS "importing_r2_boom"""")
  }

  test("export result record shape matches the reference (exporter.rb:67-71)") {
    val r = Exporter.exportCsv(geoDf.drop("the_geom"), "shape_check", tmpDir)
    assert(r.name == "shape_check")
    assert(new java.io.File(r.path).exists())
  }

  test("compaction: sprawled parquet dir rewritten to sized files, content identical") {
    import org.apache.spark.sql.functions._
    val dir = suiteTempDir("graft_compact_") + "/data"
    // sprawl: 40 single-row-ish files (the foreachBatch / per-append shape)
    spark.range(4000).select(col("id"), concat(lit("row "), col("id")).as("s"))
      .repartition(40).write.parquet(dir)
    val beforeRows = spark.read.parquet(dir).collect().map(_.toString).sorted
    val res = Compactor.compactParquet(spark, dir, targetBytes = 512L * 1024)
    assert(res.filesBefore == 40)
    assert(res.filesAfter < res.filesBefore, s"no compaction: $res")
    assert(res.rows == 4000)
    val afterRows = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(afterRows.toSeq == beforeRows.toSeq, "content changed")
    // no leftover temp/displaced dirs
    val parent = java.nio.file.Paths.get(dir).getParent
    import scala.jdk.CollectionConverters._
    val siblings = java.nio.file.Files.list(parent).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(siblings == Seq("data"), s"leftovers: $siblings")
    // idempotent: second run is a no-op at the same target
    val res2 = Compactor.compactParquet(spark, dir, targetBytes = 512L * 1024)
    assert(res2.filesBefore == res2.filesAfter)
  }

  test("selective compaction: healthy files move by rename, only sprawl is rewritten") {
    import org.apache.spark.sql.functions._
    val dir = suiteTempDir("graft_sel_") + "/data"
    // 2 healthy-sized files + 30 tiny appended stragglers
    spark.range(40000).select(col("id"), concat(lit("payload "), col("id")).as("s"))
      .repartition(2).write.parquet(dir)
    spark.range(40000, 41500).select(col("id"), concat(lit("payload "), col("id")).as("s"))
      .repartition(30).write.mode("append").parquet(dir)
    val res = Compactor.compactParquetSelective(spark, dir, targetBytes = 200L * 1024)
    assert(res.filesBefore == 32)
    assert(res.filesAfter < 32, s"no packing: $res")
    assert(res.rows == 41500)
    val after = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted
    assert(after.toSeq == (0L until 41500L))
    // the healthy files were renamed, not rewritten
    import scala.jdk.CollectionConverters._
    val fileNames = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(fileNames.count(_.startsWith("part-healthy-")) == 2, fileNames.toString)
  }

  test("compaction refuses a hive root mixed with loose parquet files") {
    import org.apache.spark.sql.functions._
    val dir = suiteTempDir("graft_mixed_") + "/data"
    spark.range(100).select(col("id"), (col("id") % 2).as("k"))
      .write.partitionBy("k").parquet(dir)
    // loose root-level file alongside the k=… dirs (malformed layout —
    // Spark's own partition discovery rejects it too)
    spark.range(100, 120).select(col("id"), lit(9L).as("k"))
      .coalesce(1).write.parquet(dir + "_loose")
    val loose = java.nio.file.Files.list(java.nio.file.Paths.get(dir + "_loose"))
      .iterator().asScala.find(_.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(loose,
      java.nio.file.Paths.get(dir, "stray.parquet"))
    val e = intercept[IllegalArgumentException] {
      Compactor.compactParquet(spark, dir, targetBytes = 512L * 1024)
    }
    assert(e.getMessage.contains("root-level"))
    intercept[IllegalArgumentException] {
      Compactor.compactParquetSelective(spark, dir, targetBytes = 512L * 1024)
    }
    // loose files at an INTERMEDIATE level of a multi-level tree are
    // refused too, not silently skipped
    val deep = suiteTempDir("graft_deep_") + "/data"
    spark.range(200).select(col("id"), (col("id") % 2).as("k"), (col("id") % 3).as("j"))
      .write.partitionBy("k", "j").parquet(deep)
    spark.range(200, 220).select(col("id"), lit(7L).as("j"))
      .coalesce(1).write.parquet(deep + "_loose2")
    val loose2 = java.nio.file.Files.list(java.nio.file.Paths.get(deep + "_loose2"))
      .iterator().asScala.find(_.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(loose2,
      java.nio.file.Paths.get(deep, "k=0", "stray.parquet"))
    val e2 = intercept[IllegalArgumentException] {
      Compactor.compactParquet(spark, deep, targetBytes = 512L * 1024)
    }
    assert(e2.getMessage.contains("loose"), e2.getMessage)
  }

  test("selective compaction re-addresses healthy files in (non-hive) subdirectories") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val dir = suiteTempDir("graft_nest_") + "/data"
    // healthy-sized files inside a nested batch dir (streaming-sink shape),
    // sprawl at the root
    spark.range(40000).select(col("id"), concat(lit("payload "), col("id")).as("s"))
      .repartition(2).write.parquet(dir + "/batch-001")
    spark.range(40000, 41500).select(col("id"), concat(lit("payload "), col("id")).as("s"))
      .repartition(30).write.mode("append").parquet(dir)
    val res = Compactor.compactParquetSelective(spark, dir, targetBytes = 200L * 1024)
    assert(res.filesBefore == 32)
    assert(res.filesAfter < 32, s"no packing: $res")
    // both healthy files survived the swap (flat restore names)
    val names = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.count(_.startsWith("part-healthy-")) == 2, names.toString)
    val back = spark.read.option("recursiveFileLookup", "true").parquet(dir)
    assert(back.count() == 41500)
  }

  test("compaction preserves hive-partitioned layout and partition values") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val dir = suiteTempDir("graft_hive_") + "/data"
    // 3 partitions × ~10 sprawled files each, written the hive way
    spark.range(3000)
      .select(col("id"), (col("id") % 3).as("k"),
        concat(lit("payload "), col("id")).as("s"))
      .repartition(10).write.partitionBy("k").parquet(dir)
    val before = spark.read.parquet(dir)
      .collect().map(_.toString).sorted
    val filesBefore = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
    val res = Compactor.compactParquet(spark, dir, targetBytes = 512L * 1024)
    assert(res.filesBefore == filesBefore)
    assert(res.filesAfter < res.filesBefore, s"no compaction: $res")
    // the key=value tree survives — partition pruning still has dirs to prune
    val partDirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).filter(_.contains("=")).toSeq.sorted
    assert(partDirs == Seq("k=0", "k=1", "k=2"), partDirs.toString)
    // partition VALUES survive: the k column still reads back per row
    val after = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(after.toSeq == before.toSeq, "rows or partition values changed")
    // pruned read touches one partition's files only
    assert(spark.read.parquet(dir).filter(col("k") === 1).count() == 1000)
    // selective variant also stays per-leaf
    spark.range(3000, 3300)
      .select(col("id"), (col("id") % 3).as("k"),
        concat(lit("payload "), col("id")).as("s"))
      .repartition(5).write.mode("append").partitionBy("k").parquet(dir)
    val res2 = Compactor.compactParquetSelective(spark, dir, targetBytes = 512L * 1024)
    assert(res2.rows == 3300)
    val partDirs2 = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.getFileName.toString).filter(_.contains("=")).toSeq.sorted
    assert(partDirs2 == Seq("k=0", "k=1", "k=2"), partDirs2.toString)
    assert(spark.read.parquet(dir).collect().map(_.getLong(0)).sorted.toSeq
      == (0L until 3300L))
  }
}
