package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sinks.{AtomicTable, KeyBloom, KeyStats, StatsRead, TargetedDelete, VersionScan}

/** The footer-schema open every committed-version read goes through: the
  * driver-side schema is exactly what Spark's own inference would have
  * produced, building a pruned read's frame starts no Spark job, and the
  * schema open is not a stats footer read. */
class VersionScanSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)

  private def partFile(dir: Path): Path = {
    val st = Files.list(dir)
    try st.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    finally st.close()
  }

  private def fresh(name: String): Path = {
    val p = Paths.get("spark-warehouse", name)
    AtomicTable.deleteRecursively(p)
    p
  }

  test("footer schema equals Spark's inferred schema for every column type the sinks write") {
    val dir = fresh("test_vscan_types")
    spark.range(5).select(
      col("id"),
      col("id").cast("int").as("i"),
      concat(lit("s"), col("id")).as("s"),
      (col("id") / 3.0).as("d"),
      (col("id") / 7).cast("decimal(18,4)").as("dec"),
      date_add(lit("2025-01-01").cast("date"), col("id").cast("int")).as("dt"),
      (lit("2025-01-01 00:00:00").cast("timestamp") + expr("make_interval(0,0,0,0,0,0,id)")).as("ts"),
      array(col("id"), col("id") + 1).as("arr"),
      struct(col("id").cast("int").as("a"), concat(lit("x"), col("id")).as("b")).as("st"),
      map(concat(lit("k"), col("id")), col("id")).as("m"))
      .coalesce(1).write.parquet(dir.toString)
    val f = partFile(dir)
    val inferred = spark.read.parquet(f.toString).schema
    assert(VersionScan.schema(spark, f) == inferred)
    assert(VersionScan.files(spark, Seq(f)).schema == inferred)
    assert(VersionScan.dir(spark, dir).schema == spark.read.parquet(dir.toString).schema)
    assert(inferred.fieldNames.toSeq ==
      Seq("id", "i", "s", "d", "dec", "dt", "ts", "arr", "st", "m"))
  }

  test("a TIMESTAMP(NANOS) column converts under the session's nanosAsLong setting") {
    // no Spark schema in this footer (Spark cannot write nanos): the parquet
    // schema itself is converted, as for externally written event files
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = fresh("test_vscan_nanos")
    Files.createDirectories(dir)
    val f = dir.resolve("part-0.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { optional int64 ts (TIMESTAMP(NANOS,true)); optional binary s (STRING); }")
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toString), conf)).withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L).append("s", "a"))
    finally w.close()
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val inferred = spark.read.parquet(f.toString).schema
    assert(inferred("ts").dataType == LongType)
    assert(VersionScan.schema(spark, f) == inferred)
    assert(VersionScan.files(spark, Seq(f)).head().getLong(0) == 1700000000123456789L)
  }

  /** Jobs started while `build` runs (the listener bus drained on both
    * sides, so no earlier job is counted and no job of `build` is missed). */
  private def jobsDuring[T](build: => T): (T, Int) = {
    val sc = spark.sparkContext
    GraftListenerBridge.drain(sc)
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = build
      GraftListenerBridge.drain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(l)
  }

  private def servingTable(root: String): Unit = {
    AtomicTable.deleteRecursively(Paths.get(root))
    AtomicTable.commit(spark.range(0, 8000, 1, 8).select(col("id"),
      md5(col("id").cast("string")).as("h"), concat(lit("v"), col("id")).as("v")),
      root, statsCols = Seq("id", "h"))
    KeyBloom.indexKeyBloom(spark, root, "h", KeyBloom.bitsFor(1000))
  }

  test("building a pruned read's frame runs zero Spark jobs") {
    val root = "spark-warehouse/test_vscan_jobs"
    servingTable(root)
    val keys = Seq(5L, 1234L, 7999L)
    val hashes = keys.map(k => java.security.MessageDigest.getInstance("MD5")
      .digest(k.toString.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString)
    val reads: Seq[(String, () => (DataFrame, StatsRead.ReadStats), Long)] = Seq(
      ("readKeyIn", () => StatsRead.readKeyIn(spark, root, "id", keys), 3L),
      ("readKeyRange", () => StatsRead.readKeyRange(spark, root, "id", 990L, 1010L), 21L),
      ("readStringKeyInBloom",
        () => StatsRead.readStringKeyInBloom(spark, root, "h", hashes), 3L))
    reads.foreach { case (name, call, rows) =>
      val ((df, rs), jobs) = jobsDuring(call())
      assert(jobs == 0, s"$name started $jobs Spark job(s) before its first action")
      assert(rs.filesRead < rs.totalFiles, s"$name did not prune: $rs")
      // the counter is live: the first action does start jobs
      val (n, actionJobs) = jobsDuring(df.count())
      assert(n == rows && actionJobs > 0, s"$name: $n rows, $actionJobs jobs")
    }
  }

  test("the schema open is not a stats footer read") {
    val root = "spark-warehouse/test_vscan_footers"
    servingTable(root)
    val before = KeyStats.footerOpens.get()
    val (df, rs) = StatsRead.readKeyIn(spark, root, "id", Seq(10L, 4000L))
    assert(df.count() == 2)
    assert(rs.footerReads == 0 && KeyStats.footerOpens.get() == before,
      s"indexed read opened stats footers: $rs")
    // an unindexed column falls back to footer stats: the counter moves by
    // exactly the audit's footerReads, not by the schema open on top
    val before2 = KeyStats.footerOpens.get()
    val (df2, rs2) = StatsRead.readWhere(spark, root, "v",
      TargetedDelete.StringKeys(Array("v10")))
    assert(df2.count() == 1)
    assert(rs2.footerReads == 8 && KeyStats.footerOpens.get() - before2 == rs2.footerReads,
      s"footer opens ${KeyStats.footerOpens.get() - before2} vs audit $rs2")
  }
}
