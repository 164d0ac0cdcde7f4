package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case o => value(o.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => value(k) + ": " + value(v) }.mkString("{", ", ", "}")
}

object Stats {
  /** Quantile with linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** An order-independent digest of a relation, taken while it is written to
  * the `noop` sink, so checking an output costs no extra action: row count,
  * the sum of row hashes modulo a prime and the XOR of row hashes. */
object Digest {
  final case class Result(rows: Long, digest: String)

  def writeNoop(df: DataFrame, name: String): Result = {
    val obs = Observation(name)
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    df.observe(obs, count(lit(1)).as("n"), sum(pmod(h, lit(1000000007L))).as("s"),
      bit_xor(h).as("x"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    val s = Option(m("s")).map(_.toString).getOrElse("0")
    val x = Option(m("x")).map(_.toString).getOrElse("0")
    Result(n, s"$n:$s:$x")
  }
}

object Parallel {
  /** Run independent set-up steps at once on a pool as wide as the
    * machine; the first failure is rethrown. */
  def run(steps: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(steps.size, Runtime.getRuntime.availableProcessors)))
    try steps.map(s => pool.submit(new Runnable { def run(): Unit = s() })).foreach(_.get())
    finally pool.shutdownNow()
  }
}

object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Bytes of the regular files under `p`, each inode counted once (the
    * table's versions share unchanged files through hard links). */
  def uniqueBytes(p: Path): Long = {
    val seen = scala.collection.mutable.HashSet.empty[Any]
    var total = 0L
    val s = Files.walk(p)
    try s.forEach { f =>
      val a = Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
      if (a.isRegularFile) {
        val key: Any = Option(a.fileKey()).getOrElse(f.toString)
        if (seen.add(key)) total += a.size
      }
    }
    finally s.close()
    total
  }
}
