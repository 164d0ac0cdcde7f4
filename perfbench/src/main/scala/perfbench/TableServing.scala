package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.{AtomicTable, KeyBloom, KeyedMerge, Maintenance, MergeSink, StatsRead, TargetedDelete}

/** table_serving: a seeded, fixed-cycle op mix against keyed tables — batch
  * reads by id, by bloom-indexed string hash and by id range, beside bulk
  * upserts and deletes, periodic maintenance, and streamed ingest
  * micro-batches into a second (poi) table through [[IngestStream]]. Every
  * read is compared with a driver-side model of the table, and the final
  * tables with their models. */
final class TableServing(ctx: Ctx) extends Workload {
  import ctx.{seed, spark, tr}
  import TableServing._

  private var root = ""
  private var model: TableModel = _
  private var rnd: java.util.SplittableRandom = _
  private var hot0 = 0L
  private var upserts = 0
  private var maintainTarget = 0L
  private var writtenBytes = 0L
  private var changedRows = 0L
  private val ingest = new IngestStream(ctx)

  /** The op cycle: the mix is the same for every seed, only keys differ.
    * One cycle is one pass, so every run times whole cycles. */
  private val cycle = Seq("read", "read_hash", "read", "upsert", "read", "read_range", "read",
    "delete", "read", "read_hash", "read", "ingest_batch", "read", "read_hash", "maintain")

  def prepare(d: Path): Unit = {
    Files.createDirectories(d)
    root = d.resolve("table").toString
    model = new TableModel(seed)
    Parallel.run(
      () => {
        // one contiguous, sorted id range per file: clustered on id
        AtomicTable.commit(model.base(spark, NFiles), root, statsCols = Seq("id", "h"))
        KeyBloom.indexKeyBloom(spark, root, "h", KeyBloom.bitsFor(BaseRows / NFiles + 1))
      },
      () => ingest.prepare(d.resolve("ingest")))
    // as the engine's own maintenance query does: twice the smallest base
    // file, so the designed 64-file layout never reads as "small files" and
    // maintenance acts on what the ops did to it
    maintainTarget = 2 * liveFileKeys()._2.values.min
    rnd = new java.util.SplittableRandom(seed * 1000003L + 7)
    hot0 = rnd.nextLong(BaseRows - HotSize)
    upserts = 0
  }

  /** One op of each kind and a maintenance run: every code path of the
    * cycle once, at half a cycle's cost (a cycle is mostly reads). */
  override def warmUp(pass: () => Phase): Phase = {
    ingest.start()
    val ops = Seq("read", "read_hash", "read_range", "upsert", "delete", "ingest_batch", "maintain")
      .map(run)
    Phase(Nil, Nil, passIsOp, 0.0, ops.size, ops.map(_.mismatches).sum, Nil)
  }

  def op(i: Int): Op =
    run(cycle(i % cycle.size)).copy(pass = "cycle", endsPass = i % cycle.size == cycle.size - 1)

  /** A key for a read or a delete: mostly from the hot block. */
  private def readKey(): Long =
    if (rnd.nextInt(10) < 8) hot0 + rnd.nextLong(HotSize) else rnd.nextLong(model.nextId)

  private def run(kind: String): Op = kind match {
    case "read" =>
      val keys = Seq.fill(ReadKeys)(readKey()).distinct
      read(kind, StatsRead.readKeyIn(spark, root, "id", keys), keys.flatMap(model.get))
    case "read_hash" =>
      val ids = Seq.fill(HashReadKeys)(readKey()).distinct
      read(kind, StatsRead.readStringKeyInBloom(spark, root, "h", ids.map(model.hash)),
        ids.flatMap(model.get))
    case "read_range" =>
      val lo = readKey()
      val hi = lo + RangeWidth - 1
      read(kind, StatsRead.readKeyRange(spark, root, "id", lo, hi), (lo to hi).flatMap(model.get))
    case "upsert" =>
      upserts += 1
      val w0 = hot0 + rnd.nextLong(HotSize - UpsertWindow)
      val ids = (Seq.fill(UpsertKeys - UpsertInserts)(w0 + rnd.nextLong(UpsertWindow)).distinct ++
        Seq.fill(UpsertInserts)(model.allocate()))
      val rows = ids.map(id => (id, model.hash(id), (seed * 31 + upserts * 1000003L + id) % 1000000007L,
        s"u$upserts-$id"))
      import spark.implicits._
      val changes = rows.toDF("id", "h", "v", "s")
      val (ms, callMs) = Stats.timedMs(writing(rows.size)(tr.call("sinks", "upsert") {
        KeyedMerge.mergeChangesKeyed(spark, root, "id", changes,
          (b, c) => MergeSink.upsert(b, c, "id", Seq("h", "v", "s"), AsOf))
      }))
      tr.sample("sinks.upsert.call_ms", callMs)
      rows.foreach { case (id, h, v, s) => model.put(id, (h, v, s)) }
      tr.sample("sinks.upsert.rewritten_files", ms.rewrittenFiles)
      tr.sample("sinks.upsert.reused_files", ms.reusedFiles)
      tr.sample("sinks.upsert.bloom_skipped", ms.bloomSkipped)
      tr.sample("sinks.upsert.footer_reads", ms.footerReads)
      Op(kind, rows.size, 0)
    case "delete" =>
      val keys = Seq.fill(DeleteKeys)(readKey()).distinct
      val (ds, callMs) =
        Stats.timedMs(writing(keys.size)(tr.call("sinks", "delete") {
          TargetedDelete.deleteKeys(spark, root, "id", keys)
        }))
      tr.sample("sinks.delete.call_ms", callMs)
      keys.foreach(model.delete)
      tr.sample("sinks.delete.rewritten_files", ds.rewrittenFiles)
      tr.sample("sinks.delete.dropped_files", ds.droppedFiles)
      tr.sample("sinks.delete.footer_reads", ds.footerReads)
      Op(kind, keys.size, 0)
    case "ingest_batch" =>
      Op(kind, ingest.batch(), 0)
    case "maintain" =>
      val (_, ms) = Stats.timedMs(writing(0)(tr.call("sinks", "maintain") {
        Maintenance.autoMaintain(spark, root, "id", maintainTarget)
      }))
      tr.sample("sinks.maintain_ms", ms)
      Op(kind, 0, 0, timed = false)
  }

  /** Time the prune call and the scan apart, then compare with the model. */
  private def read(kind: String, call: => (DataFrame, StatsRead.ReadStats),
      expected: Seq[(Long, (String, Long, String))]): Op = {
    val ((df, rs), pruneMs) = Stats.timedMs(tr.call("sinks", s"$kind.prune")(call))
    val (rows, scanMs) = Stats.timedMs(tr.call("sinks", s"$kind.scan") {
      df.select("id", "h", "v", "s").collect()
    })
    tr.sample("sinks.read.prune_ms", pruneMs)
    tr.sample("sinks.read.scan_ms", scanMs)
    tr.sample("sinks.read.call_ms", pruneMs + scanMs)
    tr.sample("sinks.read.files_read_ratio", rs.filesRead.toDouble / math.max(rs.totalFiles, 1))
    tr.sample("sinks.read.footer_reads", rs.footerReads)
    val got = rows.map((r: Row) => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    val ok = rows.length == got.size && got == expected.toMap
    if (!ok) System.err.println(s"[perfbench] table_serving $kind mismatch: ${got.size} rows, " +
      s"expected ${expected.size}")
    Op(kind, rows.length, if (ok) 0 else 1)
  }

  private def liveDir: Path = Paths.get(root, AtomicTable.currentVersion(root).get)

  /** File identities and bytes of the live version's data files. */
  private def liveFileKeys(): (Set[Any], Map[Any, Long]) = {
    val files = Files.list(liveDir)
    try {
      val m = files.iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map { p =>
          val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
          (Option(a.fileKey()).getOrElse(p.toString): Any) -> a.size
        }.toMap
      (m.keySet, m)
    } finally files.close()
  }

  /** While tracing, count the bytes of files a write op created (files it
    * hard-linked from the previous version are not new) and the rows it
    * changed, for the write-amplification figure. */
  private def writing[T](rows: Long)(write: => T): T =
    if (!tr.enabled) write
    else {
      val before = tr.call("harness", "list_files")(liveFileKeys()._1)
      val r = write
      tr.call("harness", "list_files") {
        val (keys, sizes) = liveFileKeys()
        writtenBytes += keys.diff(before).toSeq.map(sizes).sum
        changedRows += rows
      }
      r
    }

  override def layerReadings(): Map[String, Double] = {
    val (keys, sizes) = liveFileKeys()
    val liveBytes = sizes.values.sum.toDouble
    val rowBytes = liveBytes / math.max(model.liveRows, 1)
    // the table as one fresh commit of its live rows, for the space figure
    val fresh = Paths.get(root + "_fresh")
    AtomicTable.read(spark, root).repartitionByRange(NFiles, col("id"))
      .sortWithinPartitions(col("id")).write.parquet(fresh.toString)
    val freshBytes = Fs.uniqueBytes(fresh).toDouble
    Fs.deleteTree(fresh)
    ingest.readings() ++ Map(
      "sinks.table_files_end" -> keys.size.toDouble,
      "sinks.write_amp" -> writtenBytes / math.max(changedRows * rowBytes, 1.0),
      "sinks.space_amp" -> Fs.uniqueBytes(Paths.get(root)) / freshBytes)
  }

  /** The final table against the model, by digest. */
  def finish(): Int = {
    val actual = digestOf(AtomicTable.read(spark, root))
    val expected = digestOf(model.expected(spark))
    if (actual != expected)
      System.err.println(s"[perfbench] table_serving final table $actual, model $expected")
    (if (actual == expected) 0 else 1) + ingest.finish()
  }

  override def close(): Unit = ingest.close()

  def refPassS: Double = 8.0

  private def digestOf(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(col("id"), col("h"), col("v"), col("s"))
    val r = df.agg(count(lit(1)), sum(pmod(h, lit(1000000007L))), bit_xor(h)).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

object TableServing {
  val BaseRows = 600000L
  val NFiles = 64
  val HotSize = 20000L
  val ReadKeys = 50
  val HashReadKeys = 20
  val RangeWidth = 200
  val UpsertKeys = 2000
  val UpsertInserts = 100
  val UpsertWindow = 8000L
  val DeleteKeys = 20
  val AsOf = "2025-01-01 00:00:00"
}

/** The driver-side key → row model: the seeded base rows plus every
  * upsert and delete applied so far. */
final class TableModel(seed: Long) {
  import TableServing.BaseRows

  private val over = mutable.HashMap.empty[Long, (String, Long, String)]
  private val deleted = mutable.HashSet.empty[Long]
  var nextId: Long = BaseRows

  def hash(id: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s"$seed:$id".getBytes("UTF-8"))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  def get(id: Long): Option[(Long, (String, Long, String))] =
    if (deleted(id)) None
    else over.get(id).orElse(
      if (id >= 0 && id < BaseRows)
        Some((hash(id), Math.floorMod(id * 2654435761L + seed, 1000003L), s"b-$id"))
      else None).map(id -> _)

  def put(id: Long, row: (String, Long, String)): Unit = { deleted -= id; over(id) = row }
  def delete(id: Long): Unit = { over -= id; if (id < BaseRows) deleted += id }
  def allocate(): Long = { nextId += 1; nextId - 1 }
  def liveRows: Long = BaseRows - deleted.size + over.keys.count(_ >= BaseRows)

  /** The seeded base rows in Spark, in id order over `parts` equal id
    * ranges; [[get]] computes the same values. */
  def base(spark: SparkSession, parts: Int = 8): DataFrame =
    spark.range(0, BaseRows, 1, parts).select(
      col("id"),
      md5(concat(lit(s"$seed:"), col("id").cast("string"))).as("h"),
      pmod(col("id") * 2654435761L + lit(seed), lit(1000003L)).as("v"),
      concat(lit("b-"), col("id").cast("string")).as("s"))

  /** The table the model describes, built in Spark for the final digest. */
  def expected(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val touched = (over.keys ++ deleted).toSeq.toDF("id")
    base(spark).join(touched, Seq("id"), "left_anti")
      .unionByName(over.toSeq.map { case (id, (h, v, s)) => (id, h, v, s) }.toDF("id", "h", "v", "s"))
  }
}
