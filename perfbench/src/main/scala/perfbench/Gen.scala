package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Every table is a pure function of the seed: row values
  * come from `xxhash64(seed, stream, row id)` draws, so the same seed gives
  * the same bytes whatever the partitioning. The base tables follow the
  * shapes of the engine's TPC-H-style testdata (`customer`, `orders`,
  * `documents`), so the engine's own fixture helpers can read them. */
object Gen {

  /** A uniform draw in [0, 1) for (seed, stream, row). */
  def u(seed: Long, stream: Int, id: Column): Column =
    pmod(xxhash64(lit(seed), lit(stream), id), lit(1000003L)).cast("double") / 1000003.0

  /** A uniform integer draw in [0, n). */
  def pick(seed: Long, stream: Int, id: Column, n: Long): Column =
    floor(u(seed, stream, id) * n).cast("long")

  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** `customer`-shaped: c_custkey 1..n. */
  def customer(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(lit): _*)
    spark.range(1, n + 1, 1, 4).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pick(seed, 1, id, 25).cast("int").as("c_nationkey"),
      round(u(seed, 2, id) * 10998.0 - 999.0, 2).as("c_acctbal"),
      element_at(segs, (pick(seed, 3, id, 5) + 1).cast("int")).as("c_mktsegment"))
  }

  /** `orders`-shaped: unique o_orderkey, o_custkey drawn from 1..nCust. */
  def orders(spark: SparkSession, seed: Long, n: Long, nCust: Long): DataFrame = {
    val id = col("id")
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*)
    val status = array(Seq("F", "O", "P").map(lit): _*)
    spark.range(1, n + 1, 1, 4).select(
      (id * 4 + pick(seed, 10, id, 4)).as("o_orderkey"),
      (pick(seed, 11, id, nCust) + 1).as("o_custkey"),
      element_at(status, (pick(seed, 12, id, 3) + 1).cast("int")).as("o_orderstatus"),
      round(u(seed, 13, id) * 400000.0 + 900.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + pick(seed, 14, id, 2405L * 86400L))
        .cast("timestamp_ntz").as("o_orderdate"),
      element_at(prios, (pick(seed, 15, id, 5) + 1).cast("int")).as("o_orderpriority"))
  }

  val Vocab: Seq[String] = Seq("a", "the", "data", "spark", "stream", "batch", "query", "table",
    "join", "sort", "scan", "merge", "filter", "group", "agg", "window", "row", "column", "key",
    "value", "hash", "order", "line", "part", "customer", "vector", "fast", "slow", "big",
    "small", "index", "bloom", "file", "commit", "shuffle", "stage", "task", "driver", "cache",
    "plan", "cell", "ring", "poi", "city", "mention", "trend", "score", "badge", "collection",
    "review", "guide", "press", "local", "blog", "cafe", "bar", "bakery", "bistro", "terrace",
    "brunch")

  /** `documents`-shaped with planted near-duplicates: `nBase` originals,
    * original i followed by i mod 4 variants (doc_id = base·4 + variant)
    * that swap about one word in twelve, so variants are Jaccard-close to
    * their original. Word choice is skewed toward the head of the
    * vocabulary. The seed draws the words and lengths; the number of
    * documents and of planted duplicates is the same for every seed, so
    * runs with different seeds do the same amount of work. */
  def documents(spark: SparkSession, seed: Long, nBase: Long): DataFrame = {
    val vocab = Vocab.map(w => s"'$w'").mkString("array(", ", ", ")")
    val v = Vocab.size
    val langs = "array('en', 'en', 'en', 'fr', 'de', 'es', 'zh')"
    spark.range(0, nBase, 1, 4)
      .withColumn("len", pick(seed, 20, col("id"), 70) + 12)
      .withColumn("nvar", col("id") % 4)
      .withColumn("r", explode(sequence(lit(0L), col("nvar"))))
      .select(
        (col("id") * 4 + col("r")).as("doc_id"),
        expr(s"concat_ws(' ', transform(sequence(1, CAST(len AS INT)), i -> " +
          s"CASE WHEN r > 0 AND pmod(xxhash64(${seed}L, 22, id, r, i), 12) = 0 " +
          s"THEN $vocab[CAST(pmod(xxhash64(${seed}L, 23, id, r, i), $v) AS INT)] " +
          s"ELSE $vocab[CAST(floor(pow(pmod(xxhash64(${seed}L, 24, id, i), 1000003) / 1000003.0, 2) * $v) AS INT)] END))")
          .as("text"),
        expr(s"$langs[CAST(pmod(xxhash64(${seed}L, 25, id), 7) AS INT)]").as("lang"),
        concat(lit("src"), pick(seed, 26, col("id"), 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** A seeded two-level city geometry over the Paris bounding box: 20
    * admin-level-9 districts on a 5×4 grid and 78 admin-level-10
    * neighbourhoods inside them (four per district, three in two of them),
    * each a closed ring of 24–64 jittered vertices. Same columns as
    * `Spatial.loadUrbanAreasJsonl`. */
  def geometry(spark: SparkSession, seed: Long): DataFrame = {
    val rnd = new java.util.SplittableRandom(seed * 7919 + 17)
    val (lng0, lat0, lng1, lat1) = (2.25, 48.815, 2.42, 48.902)
    val (nx, ny) = (5, 4)
    val dx = (lng1 - lng0) / nx
    val dy = (lat1 - lat0) / ny
    def ring(x0: Double, y0: Double, x1: Double, y1: Double): Seq[Seq[Double]] = {
      val n = 24 + rnd.nextInt(41)
      val cx = (x0 + x1) / 2
      val cy = (y0 + y1) / 2
      val pts = (0 until n).map { i =>
        // walk the rectangle's perimeter, pushing each vertex in or out
        val t = i.toDouble / n * 4
        val (px, py) =
          if (t < 1) (x0 + (x1 - x0) * t, y0)
          else if (t < 2) (x1, y0 + (y1 - y0) * (t - 1))
          else if (t < 3) (x1 - (x1 - x0) * (t - 2), y1)
          else (x0, y1 - (y1 - y0) * (t - 3))
        val k = 0.9 + rnd.nextDouble() * 0.2
        Seq(cx + (px - cx) * k, cy + (py - cy) * k)
      }
      pts :+ pts.head
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int, Seq[Seq[Double]])]
    var q = 0
    for (gx <- 0 until nx; gy <- 0 until ny) {
      val d = gx * ny + gy
      val (x0, y0) = (lng0 + gx * dx, lat0 + gy * dy)
      val name = f"District ${d + 1}%02d"
      rows += ((name, name, 9, ring(x0, y0, x0 + dx, y0 + dy)))
      val parts = if (d < 2) 3 else 4
      (0 until parts).foreach { p =>
        val (qx0, qx1) = (x0 + dx * p / parts, x0 + dx * (p + 1) / parts)
        val name = f"Quartier ${q + 1}%02d"
        rows += ((name, name, 10, ring(qx0, y0, qx1, y0 + dy)))
        q += 1
      }
    }
    import spark.implicits._
    rows.toSeq.map { case (id, n, lvl, r) =>
      (id, n, lvl, r, graft.domain.Spatial.ringArea(r.map(_.toArray).toArray))
    }.toDF("area_id", "area_name", "admin_level", "ring", "area")
  }
}
