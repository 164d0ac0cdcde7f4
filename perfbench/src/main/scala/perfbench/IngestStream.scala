package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sinks.AtomicTable
import graft.sources.HttpSource
import graft.sources.HttpSource.HttpResponse
import graft.streaming.IngestLoop
import graft.streaming.IngestLoop.FetchRequest

/** The offline fetch side of stream_ingest. Executor closures reach it
  * through this object, never through a workload instance: the replay
  * script grows batch by batch, and every send and requested sleep is
  * counted (the sleeper records, it does not sleep). */
object IngestFixtures {
  @volatile var script: Map[String, Seq[HttpResponse]] = Map.empty
  val sends = new AtomicLong()
  val sleptMs = new AtomicLong()

  final class CountingTransport(inner: HttpSource.Transport) extends HttpSource.Transport {
    def send(url: String): HttpResponse = { sends.incrementAndGet(); inner.send(url) }
  }

  def transport(): HttpSource.Transport =
    new CountingTransport(new HttpSource.ReplayTransport(script))

  val sleeper: Long => Unit = ms => { sleptMs.addAndGet(ms); () }
}

/** The incremental ingest inside table_serving: `IngestLoop.run` over a
  * `MemoryStream` of seeded fetch requests against a pre-seeded poi table.
  * One micro-batch runs from `addData` until `processAllAvailable` returns.
  * The final poi table and quota ledger are compared with a driver-side
  * model of admission and upsert. */
final class IngestStream(ctx: Ctx) {
  import ctx.{seed, spark, tr}
  import IngestStream._

  private var base: Path = _
  private var query: StreamingQuery = _
  private var input: MemoryStream[FetchRequest] = _
  private var rnd: java.util.SplittableRandom = _
  private var nextRequest = 0L
  private var batchNo = 0
  private var requested = 0L
  private var admitted = 0L
  private val poi = mutable.HashMap.empty[String, (String, Double, String)]
  private val ledger = mutable.HashMap.empty[String, (Long, Long)]

  def prepare(d: Path): Unit = {
    Files.createDirectories(d)
    base = d
    Fs.deleteTree(d.resolve("poi"))
    val rows = spark.range(0, BaseRows, 1, 4).select(
      concat(lit("g"), col("id").cast("string")).as("google_place_id"),
      concat(lit("base-"), col("id").cast("string")).as("name"),
      (pmod(col("id") * 7 + lit(seed), lit(50L)) / 10.0).as("rating"),
      to_timestamp(lit(BaseIngestedAt)).as("first_ingested_at"))
    AtomicTable.commit(rows.repartitionByRange(8, col("google_place_id"))
      .sortWithinPartitions(col("google_place_id")),
      d.resolve("poi").toString, statsCols = Seq("google_place_id"))
    poi.clear()
    (0L until BaseRows).foreach { i =>
      poi(s"g$i") = (s"base-$i", Math.floorMod(i * 7 + seed, 50L) / 10.0, BaseIngestedAt)
    }
    ledger.clear()
    rnd = new java.util.SplittableRandom(seed * 6151L + 3)
    nextRequest = 0L
    batchNo = 0
  }

  def start(): Unit = {
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    input = MemoryStream[FetchRequest]
    query = IngestLoop.run(spark, input.toDS(), base.resolve("poi").toString,
      base.resolve("ledger").toString, IngestFixtures.transport _, DailyLimit,
      asOf = AsOf, appId = "perfbench-ingest", checkpoint = base.resolve("ckpt").toString,
      sleeper = IngestFixtures.sleeper)
  }

  /** The next batch's requests, its replay script and the model's verdicts. */
  private def nextBatch(): Seq[FetchRequest] = {
    val day = batchNo / BatchesPerDay
    val seen = mutable.HashSet.empty[String]
    val reqs = (0 until BatchSize).map { j =>
      val rid = nextRequest
      nextRequest += 1
      val api = if (rnd.nextInt(2) == 0) "places" else "details"
      val ts = day * IngestLoop.DayUs + (batchNo % BatchesPerDay) * 1000000000L + j * 1000L
      val existing = s"g${rnd.nextLong(BaseRows)}"
      val place = if (rnd.nextInt(10) < 7 && seen.add(existing)) existing else s"n$rid"
      seen += place
      val body = s"""{"google_place_id":"$place","name":"fetched-$rid","rating":${rid % 50 / 10.0}}"""
      val ok = HttpResponse(200, Map.empty, body)
      val roll = rnd.nextInt(100)
      val script =
        if (roll < 3) Seq(HttpResponse(503, Map.empty, ""), ok)
        else if (roll < 4) Seq(HttpResponse(429, Map("Retry-After" -> "1"), ""), ok)
        else Seq(ok)
      IngestFixtures.script += s"u$rid" -> script
      (FetchRequest(rid, api, ts, s"u$rid"), place, s"fetched-$rid", rid % 50 / 10.0)
    }
    // admission in (api_type, ts, request_id) order, as the quota gate does
    reqs.sortBy { case (r, _, _, _) => (r.api_type, r.ts_us, r.request_id) }.foreach {
      case (r, place, name, rating) =>
        val (lday, used) = ledger.getOrElse(r.api_type, (-1L, 0L))
        val prior = if (lday == day) used else 0L
        requested += 1
        if (prior < DailyLimit) {
          ledger(r.api_type) = (day.toLong, prior + 1)
          admitted += 1
          val first = poi.get(place).map(_._3).getOrElse(AsOf)
          poi(place) = (name, rating, first)
        } else ledger(r.api_type) = (day.toLong, prior)
    }
    batchNo += 1
    reqs.map(_._1)
  }

  /** One micro-batch; returns the requests it committed. */
  def batch(): Long = {
    val before = admitted
    val reqs = nextBatch()
    tr.call("streaming", "batch") {
      input.addData(reqs)
      query.processAllAvailable()
    }
    admitted - before
  }

  def readings(): Map[String, Double] = Map(
    "sources.attempts_per_request" -> IngestFixtures.sends.get.toDouble / math.max(admitted, 1),
    "sources.backoff_ms_requested" -> IngestFixtures.sleptMs.get.toDouble / math.max(batchNo, 1),
    "streaming.admitted_share" -> admitted.toDouble / math.max(requested, 1))

  def finish(): Int = {
    val poiRows = AtomicTable.read(spark, base.resolve("poi").toString)
      .select(col("google_place_id"), col("name"), col("rating"),
        date_format(col("first_ingested_at"), "yyyy-MM-dd HH:mm:ss"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getDouble(2), r.getString(3))))
    val poiOk = poiRows.length == poi.size && poiRows.toMap == poi.toMap
    val led = AtomicTable.read(spark, base.resolve("ledger").toString).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ledgerOk = led == ledger.toMap
    if (!poiOk) System.err.println(s"[perfbench] stream_ingest poi table: ${poiRows.length} rows, " +
      s"model ${poi.size}")
    if (!ledgerOk) System.err.println(s"[perfbench] stream_ingest ledger $led, model $ledger")
    (if (poiOk) 0 else 1) + (if (ledgerOk) 0 else 1)
  }

  def close(): Unit = if (query != null) {
    query.stop()
    query = null
  }
}

object IngestStream {
  val BaseRows = 20000L
  val BatchSize = 250
  val BatchesPerDay = 4
  /** Per api_type and day; about 8% of each day's requests are refused. */
  val DailyLimit = 460
  val AsOf = "2025-06-01 00:00:00"
  val BaseIngestedAt = "2025-01-01 00:00:00"
}
