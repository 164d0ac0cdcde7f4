package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.domain.{Classify, Collections, Ingest, MentionDedup, MentionScoring, Spatial, Trending, VolumeFixtures}
import Gen.{pick, u}

/** The per-city stage chain of [[NightlyBatch]], each stage called
  * directly on setup-written parquet and ending in a `noop` write (the
  * reference runs every stage as its own process over stored inputs).
  * Set-up writes seeded `customer`/`orders` tables, derives the stage
  * inputs from them (with the engine's own volume fixtures where it has
  * them) and runs the chain's data dependencies once: the ingest output
  * feeds the spatial input, the in-batch dedup output feeds scoring. One op
  * is one stage call; the chain is the seven stages in order. */
final class CityBatch(ctx: Ctx) {
  import ctx.{seed, spark, tr}

  val NCust = 1500L
  val NOrders = 8000L
  /** Copies of the candidates the expression reading projects (64 × 8000 rows). */
  val KernelCopies = 64L
  val KernelReps = 3

  private var dir = ""
  private val digests = new DigestBook("city", seed)

  private def rd(name: String): DataFrame = spark.read.parquet(s"$dir/$name.parquet")
  private def wr(df: DataFrame, name: String): Unit = Gen.write(df, s"$dir/$name.parquet")

  /** Search results in the ingest stage's input shape, keyed by customer:
    * every drop path of the projection (missing ids or coordinates,
    * disallowed types, country fallback) fires for a seeded share. */
  private def places: DataFrame = {
    val k = col("c_custkey")
    val t = pick(seed, 30, k, 8)
    rd("customer").select(
      concat(lit("r"), k.cast("string")).as("result_id"),
      when(u(seed, 31, k) < 1.0 / 41, lit(null).cast("string"))
        .otherwise(concat(lit("pl"), k.cast("string"))).as("place_id"),
      col("c_name").as("name"),
      when(t === 0, array(lit("restaurant"), lit("food")))
        .when(t === 1, array(lit("night_club")))
        .when(t === 2, array(lit("cafe"), lit("coffee_shop")))
        .when(t === 3, array(lit("store"), lit("souvenir_shop")))
        .when(t === 4, array(lit("bar"), lit("wine_bar")))
        .when(t === 5, array(lit("restaurant"), lit("french_restaurant")))
        .when(t === 6, array(lit("bakery")))
        .otherwise(array(lit("museum"))).as("types"),
      concat(k.cast("string"), lit(" Rue des Ecoles, 750"), pick(seed, 32, k, 20).cast("string"),
        lit(" Paris, "), when(u(seed, 33, k) < 1.0 / 17, "FR").otherwise("France"))
        .as("formatted_address"),
      when(u(seed, 34, k) < 1.0 / 29, lit(null).cast("double"))
        .otherwise(lit(48.815) + u(seed, 35, k) * 0.087).as("lat"),
      when(u(seed, 36, k) < 1.0 / 31, lit(null).cast("double"))
        .otherwise(lit(2.25) + u(seed, 37, k) * 0.17).as("lng"),
      when(u(seed, 38, k) < 1.0 / 23, lit(null).cast("double"))
        .otherwise(round(lit(3.0) + u(seed, 39, k) * 2.0, 1)).as("rating"),
      pick(seed, 40, k, 600).cast("int").as("user_ratings_total"),
      when(u(seed, 41, k) < 1.0 / 7, lit(null).cast("int"))
        .otherwise((pick(seed, 42, k, 4) + 1).cast("int")).as("price_level"),
      when(u(seed, 43, k) < 1.0 / 13, "lyon").otherwise("paris").as("city_slug"))
  }

  /** Mention candidates keyed by order, with an explicit first-seen `ord`;
    * titles repeat across a seeded tag so the in-batch dedup drops some. */
  private def candidates: DataFrame = {
    val k = col("o_orderkey")
    val domains = array(Seq("lefooding.com", "unknown-blog.net", "guide.michelin.com",
      "instagram.com", "parisbouge.com", "random-site.org").map(lit): _*)
    val dom = element_at(domains, (pick(seed, 50, k, 6) + 1).cast("int"))
    rd("orders").select(
      k.cast("string").as("cand_id"),
      concat(lit("pl"), col("o_custkey").cast("string")).as("poi_id"),
      (lit(48.0) + u(seed, 51, k) * 2.0).as("poi_lat"),
      (lit(2.0) + u(seed, 52, k) * 0.7).as("poi_lng"),
      concat(lit("review "), lower(col("o_orderpriority")), lit(" "),
        pick(seed, 53, k, 997).cast("string"),
        when(u(seed, 54, k) < 1.0 / 7, lit(" paris")).otherwise(lit(""))).as("title"),
      when(u(seed, 55, k) < 1.0 / 11, "the best spot in france 75001")
        .when(u(seed, 55, k) > 10.0 / 11, "a long story about germany")
        .otherwise("nothing special here").as("snippet"),
      dom.as("domain"),
      concat(lit("https://"), dom,
        when(u(seed, 56, k) < 1.0 / 9, lit("/paris/")).otherwise(lit("/x/")),
        k.cast("string")).as("url"),
      round(u(seed, 57, k), 2).as("name_match"),
      k.as("ord"))
  }

  def prepare(d: Path): Unit = {
    Files.createDirectories(d)
    dir = d.toString
    // the inputs derived from customer and orders are independent of each
    // other: each layer is written at once
    Parallel.run(
      () => wr(Gen.customer(spark, seed, NCust), "customer"),
      () => wr(Gen.orders(spark, seed, NOrders, NCust), "orders"))
    Parallel.run(
      () => {
        wr(places, "places")
        wr(Ingest.toPoiRows(rd("places"))
          .select(col("google_place_id").as("poi_id"), col("lat"), col("lng")), "spatial_pois")
      },
      () => wr(Gen.geometry(spark, seed), "areas"),
      () => {
        wr(candidates, "cands")
        wr(MentionDedup.inBatchDedup(rd("cands")).drop("norm_url", "norm_title", "ord"), "scoring_in")
      },
      () => wr(MentionDedup.mentionsW3VolDf(spark, dir), "w3"),
      () => wr(VolumeFixtures.poiVol(spark, dir), "poi"),
      () => wr(VolumeFixtures.mentionsVol(spark, dir), "mentions"),
      () => wr(VolumeFixtures.snapshotsVol(spark, dir), "snapshots"),
      () => wr(Collections.taggedPoisVol(spark, dir), "tagged"),
      () => wr(Trending.trendCandsVol(spark, dir), "trend"))
    digests.reset()
  }

  def size: Int = stages.size

  /** Stage `i` of the chain. */
  def op(i: Int): Op = {
    val (name, build) = stages(i)
    val (rows, mism) = stage(name, build)
    Op(name, rows, mism)
  }

  /** One stage call: build its outputs, then write each to `noop` and check
    * its digest. Returns (rows written, digest mismatches). */
  private def stage(name: String, build: () => Seq[(String, DataFrame)]): (Long, Int) = {
    val (outs, buildMs) = Stats.timedMs(tr.call("domain", s"$name.build")(build()))
    val (res, execMs) = Stats.timedMs(tr.call("domain", s"$name.exec") {
      outs.map { case (out, df) =>
        val r = Digest.writeNoop(df, s"$name.$out")
        (r.rows, digests.check(s"$name.$out", r.digest))
      }
    })
    tr.sample(s"domain.$name.build_ms", buildMs)
    tr.sample(s"domain.$name.exec_ms", execMs)
    (res.map(_._1).sum, res.map(_._2).sum)
  }

  /** The chain, in the reference's stage order. */
  private val stages: Seq[(String, () => Seq[(String, DataFrame)])] = Seq(
    "ingest" -> (() => Seq("poi_rows" -> Ingest.toPoiRows(rd("places")))),
    "spatial" -> (() => Seq("assigned" -> Spatial.assignViaCells(rd("spatial_pois"), rd("areas"), spark))),
    "mention_dedup" -> (() => Seq(
      "in_batch" -> MentionDedup.inBatchDedup(rd("cands")),
      "window" -> MentionDedup.windowDedup(rd("w3")))),
    "mention_score" -> (() => Seq("decisions" -> MentionScoring.scoreAndDecide(rd("scoring_in"), spark))),
    "classify" -> { () =>
      val scored = Classify.scores(rd("poi"), rd("mentions"), rd("snapshots"), VolumeFixtures.asOfVol)
      Seq("scores" -> scored, "city_stats" -> Classify.cityStats(scored),
        "transitions" -> Classify.transitions(scored))
    },
    "collections" -> (() => Seq("members" ->
      Collections.generate(rd("tagged"), Collections.templates24Df(spark)))),
    "trending" -> { () =>
      val names = Trending.extractPoiNames(rd("trend"))
      Seq("names" -> names, "log" -> Trending.discoveryLog(names))
    })

  /** The mention and spatial expressions alone, per row: a `noop`
    * projection of them over about half a million cached candidate rows,
    * less the same projection without them, so scan and job costs cancel
    * and the per-row work dominates. */
  def layerReadings(): Map[String, Double] = {
    val input = rd("cands").select("title", "snippet", "url", "poi_lat", "poi_lng")
      .crossJoin(spark.range(KernelCopies).select(col("id").as("copy")))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val rows = input.count()
      val base = input.columns.map(col).toSeq
      val kernel = base ++ Seq(
        MentionScoring.geoScore(col("title"), col("snippet"), col("url"), col("poi_lat"), col("poi_lng")),
        MentionScoring.countryMismatch(col("title"), col("snippet"), col("url")),
        graft.expr.functions.dedupe_key(col("url")),
        graft.expr.functions.cell_of(col("poi_lat"), col("poi_lng"), lit(11)))
      def timeMs(cols: Seq[Column]): Double =
        Stats.timedMs(input.select(cols: _*).write.format("noop").mode("overwrite").save())._2
      val times = (0 until KernelReps).map(_ => (timeMs(kernel), timeMs(base)))
      tr.sample("expr.kernel_ns_per_row",
        (Stats.median(times.map(_._1)) - Stats.median(times.map(_._2))) * 1e6 / rows)
      Map.empty
    } finally input.unpersist(blocking = true)
  }

  def notes: Seq[String] = digests.notes
}

/** Stage-output digests: every pass must reproduce the warm-up pass, and at
  * the default seed the warm-up must reproduce the pinned digests. */
final class DigestBook(workload: String, seed: Long) {
  private val first = scala.collection.mutable.HashMap.empty[String, String]
  private val pins: Map[String, String] =
    if (seed == Main.DefaultSeed) Pins.of(workload) else Map.empty

  def reset(): Unit = first.clear()

  def check(key: String, digest: String): Int = {
    val pinOk = pins.isEmpty || pins.get(key).contains(digest)
    if (!pinOk) System.err.println(s"[perfbench] $workload $key: digest $digest, pinned ${pins.get(key)}")
    val passOk = first.getOrElseUpdate(key, digest) == digest
    if (!passOk) System.err.println(s"[perfbench] $workload $key: digest $digest, first pass ${first(key)}")
    if (pinOk && passOk) 0 else 1
  }

  def notes: Seq[String] = first.toSeq.sorted.map { case (k, v) => s"digest $k = $v" }
}
